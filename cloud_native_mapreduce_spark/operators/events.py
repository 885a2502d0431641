"""Event-time windowed operators over the `events` table (batch form).

These are the DuckDB-checkable batch twins of the Structured Streaming
queries in `cloud_native_mapreduce_spark.streaming`: identical window
semantics (Spark's `window`/`session_window` produce the same assignment in
batch and streaming), so correctness proven here transfers to the stream.

Windows are epoch-aligned (Spark computes them on the raw microsecond
instant, timezone-independent for whole-hour/minute sizes), matching
DuckDB's naive-timestamp date_trunc/epoch arithmetic on the same parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cloud_native_mapreduce_spark.session import cut, loop_session


def tumbling_counts(events: DataFrame) -> DataFrame:
    """1-hour tumbling windows × event_type: count + sum(value)."""
    return (events
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n_events", "sum_value"))


def sliding_counts(events: DataFrame) -> DataFrame:
    """1-hour windows sliding every 30 minutes: each event lands in 2."""
    return (events
            .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
            .agg(F.count("*").alias("n_events"),
                 # sum (not avg): value has 2 decimals, so the true sum has
                 # exactly 2 decimals and round(.,2) is boundary-safe across
                 # engines; avg can land arbitrarily close to a boundary
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .select(F.col("w.start").alias("window_start"),
                    "n_events", "sum_value"))


def sessionize(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Per-user session windows (gap-based). session_window merges events
    whose gap to the previous is strictly less than `gap`."""
    return (events
            .groupBy("user_id", F.session_window("ts", gap).alias("w"))
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .select("user_id", F.col("w.start").alias("session_start"),
                    "n_events", "sum_value"))


def daily_rollup_via_hourly(events: DataFrame) -> DataFrame:
    """Hierarchical rollup (hypertable-style continuous aggregate): the
    daily aggregate is computed FROM the hourly aggregate, not from raw
    rows — the pattern that makes multi-resolution dashboards O(|hours|)
    instead of O(|events|) per refresh. Sums are integer cents so
    reaggregation is exactly lossless (floats would drift between the
    one-step and two-step paths)."""
    cents = F.round(F.col("value") * 100).cast("bigint")
    hourly = (events
              .groupBy(F.date_trunc("hour", "ts").alias("hour"),
                       "event_type")
              .agg(F.count("*").alias("n_events"),
                   F.sum(cents).alias("cents")))
    return (hourly
            .groupBy(F.date_trunc("day", "hour").alias("day"),
                     "event_type")
            .agg(F.sum("n_events").alias("n_events"),
                 (F.sum("cents") / 100.0).alias("sum_value"))
            .orderBy("day", "event_type"))


def json_props_stats(events: DataFrame) -> DataFrame:
    """Semi-structured extraction: pull `k` out of the JSON props column,
    aggregate per event type. get_json_object is JVM-side (Jackson), no
    Python round-trip."""
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (events
            .groupBy("event_type")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.avg(k), 4).alias("avg_k"),
                 F.max(k).alias("max_k"))
            .orderBy("event_type"))


def dedup_events(events: DataFrame) -> DataFrame:
    """Exact event dedup on (user_id, event_type, ts) — the batch twin of
    streaming dropDuplicates-with-watermark."""
    return (events
            .dropDuplicates(["user_id", "event_type", "ts"])
            .groupBy("event_type")
            .agg(F.count("*").alias("n_unique"))
            .orderBy("event_type"))


def hourly_spine_fill(events: DataFrame) -> DataFrame:
    """Gap-filled hourly series per event_type: time spine (sequence of
    hours from min to max) × type grid, left-joined to observed counts
    with zero fill — the resample/gap-fill ETL primitive. The spine and
    type list are tiny (hours × types), so the grid build is a broadcast
    cross of two small sides; only the per-hour aggregate touches the
    fact table."""
    hours = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"))
    spine = hours.select(F.explode(F.sequence(
        "lo", "hi", F.expr("interval 1 hour"))).alias("hour"))
    types = events.select("event_type").distinct()
    grid = spine.crossJoin(F.broadcast(types))
    counts = (events
              .groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
              .agg(F.count("*").alias("n_events"),
                   F.round(F.sum("value"), 2).alias("total_value")))
    return (grid.join(counts, ["hour", "event_type"], "left")
            .select("hour", "event_type",
                    F.coalesce("n_events", F.lit(0)).alias("n_events"),
                    F.coalesce("total_value", F.lit(0.0))
                     .alias("total_value"))
            .orderBy("hour", "event_type"))


def incremental_rollup_merge(spark, events: DataFrame,
                             split_date: str = "2024-01-21") -> DataFrame:
    """Materialized-aggregate maintenance: merge a new partition of
    events into a previously-persisted rollup WITHOUT rescanning
    history — the incremental pattern every 100 TB pipeline runs
    nightly (recomputing the full aggregate would rescan the corpus;
    merging re-aggregates only |keys| + |increment| rows).

    The persisted base is simulated faithfully: the pre-`split_date`
    rollup is WRITTEN to parquet and READ BACK (schema fidelity
    included), then merged with the increment's rollup by
    union + re-aggregate — correct because count/sum are mergeable
    aggregates (avg/approx-distinct would persist their algebraic
    parts: (sum,count) / HLL sketch, merged the same way). The merge
    keys (event_type × hour-of-day) receive contributions from BOTH
    sides, so the test is a real merge, not a disjoint append. The
    oracle recomputes the rollup from ALL events in one pass —
    incremental == full recompute is the correctness contract."""
    import tempfile
    cents = F.round(F.col("value") * 100).cast("bigint")

    def rollup(df: DataFrame) -> DataFrame:
        return (df.groupBy("event_type",
                           F.hour("ts").cast("bigint").alias("hod"))
                .agg(F.count("*").alias("n_events"),
                     F.sum(cents).alias("cents")))

    base_dir = tempfile.mkdtemp(prefix="rollup_base_")
    rollup(events.where(F.col("ts") < split_date)) \
        .write.mode("overwrite").parquet(base_dir)
    base = spark.read.parquet(base_dir)
    inc = rollup(events.where(F.col("ts") >= split_date))
    return (base.unionByName(inc)
            .groupBy("event_type", "hod")
            .agg(F.sum("n_events").alias("n_events"),
                 F.sum("cents").alias("cents"))
            .select("event_type", "hod", "n_events",
                    (F.col("cents") / 100.0).alias("sum_value")))


def funnel_conversion(events: DataFrame,
                      steps: tuple[str, ...] = ("view", "click",
                                                "purchase")) -> DataFrame:
    """Strict sequential funnel: a user counts for step N only with an
    occurrence of step N AFTER their earliest qualifying step N-1
    occurrence. Classic product-analytics query.

    Plan: one hash aggregate per step, each keyed on user_id — the
    frames stay co-partitioned on user_id across steps, so after the
    first shuffle the per-step joins are local (no re-shuffle; at
    100 TB the |users|-row step frames are the only state). The final
    3-row result aggregates counts, never collects users."""
    step_users = []
    prev = None
    for s in steps:
        occ = events.where(F.col("event_type") == s)
        if prev is not None:
            occ = (occ.join(prev, "user_id")
                   .where(F.col("ts") > F.col("t_prev")))
        cur = occ.groupBy("user_id").agg(F.min("ts").alias("t_prev"))
        step_users.append(cur)
        prev = cur
    spark = events.sparkSession
    counts = None
    for i, (s, frame) in enumerate(zip(steps, step_users), start=1):
        c = frame.agg(F.count("*").alias("n_users")).select(
            F.lit(i).cast("bigint").alias("step_no"),
            F.lit(s).alias("step"), "n_users")
        counts = c if counts is None else counts.unionByName(c)
    first = counts.where(F.col("step_no") == 1).select(
        F.col("n_users").alias("n_first"))
    return (counts.crossJoin(F.broadcast(first))
            .select("step_no", "step", "n_users",
                    F.round(F.col("n_users") / F.col("n_first"), 4)
                     .alias("conversion"))
            .orderBy("step_no"))


def retention_cohorts(events: DataFrame, max_offset: int = 7) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen day, counted
    as retained on each later day they were active (0..max_offset days
    out). The other product-analytics staple.

    Plan: first-seen day is one hash aggregate on user_id; the events
    stream joins that |users|-row frame on user_id (co-partitioned with
    the aggregate's shuffle) and re-aggregates on (cohort, offset) —
    distinct users counted per cell. Cells are bounded by
    days × max_offset, so the result is tiny regardless of corpus."""
    day = F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    first = (events.groupBy("user_id")
             .agg(F.min(F.to_date(day)).alias("cohort_day")))
    return (events.select("user_id", F.to_date(day).alias("act_day"))
            .join(first, "user_id")
            .select("user_id",
                    F.date_format("cohort_day", "yyyy-MM-dd")
                     .alias("cohort"),
                    F.datediff("act_day", "cohort_day").cast("bigint")
                     .alias("day_offset"))
            .where((F.col("day_offset") >= 0)
                   & (F.col("day_offset") <= max_offset))
            .groupBy("cohort", "day_offset")
            .agg(F.count_distinct("user_id").alias("n_users"))
            .orderBy("cohort", "day_offset"))


def interpolate_hourly(events: DataFrame) -> DataFrame:
    """Gap-filled hourly series per event_type with LINEAR INTERPOLATION
    between surrounding observations (where `hourly_spine_fill` zero-
    fills, this reconstructs the signal — the resampling primitive for
    sensor/metric series).

    Window mechanics: per series, the last/next observed value and its
    hour come from `last_value(..., ignoreNulls)` over the unbounded-
    preceding frame and its mirror — one sort per series, no self-join.
    The window partitions on the series key (event_type); per-series
    length is bounded by the spine (hours), never by the corpus, so
    partition width is fixed at 100 TB and parallelism comes from the
    number of series. Interpolation arithmetic stays in exact integer
    cents until the final ratio. Boundary hours (before first / after
    last observation) clamp to the nearest observed value."""
    hours = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"))
    spine = hours.select(F.explode(F.sequence(
        "lo", "hi", F.expr("interval 1 hour"))).alias("hour"))
    types = events.select("event_type").distinct()
    cents = F.round(F.col("value") * 100).cast("bigint")
    obs = (events
           .groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
           .agg(F.sum(cents).alias("obs_cents")))
    grid = (spine.crossJoin(F.broadcast(types))
            .join(obs, ["hour", "event_type"], "left")
            .withColumn("h", F.unix_timestamp("hour"))
            .withColumn("obs_h", F.when(F.col("obs_cents").isNotNull(),
                                        F.col("h"))))
    w_back = (Window.partitionBy("event_type").orderBy("h")
              .rowsBetween(Window.unboundedPreceding, 0))
    w_fwd = (Window.partitionBy("event_type").orderBy("h")
             .rowsBetween(0, Window.unboundedFollowing))
    prev_c = F.last("obs_cents", ignorenulls=True).over(w_back)
    prev_h = F.last("obs_h", ignorenulls=True).over(w_back)
    next_c = F.first("obs_cents", ignorenulls=True).over(w_fwd)
    next_h = F.first("obs_h", ignorenulls=True).over(w_fwd)
    interp = (F.when(F.col("obs_cents").isNotNull(),
                     F.col("obs_cents").cast("double"))
              .when(prev_c.isNull(), next_c.cast("double"))
              .when(next_c.isNull(), prev_c.cast("double"))
              .otherwise(prev_c + (next_c - prev_c)
                         * (F.col("h") - prev_h) / (next_h - prev_h)))
    # floor(x + 0.5) instead of round(): the interpolation of integer
    # cents at a rational ratio can land EXACTLY on a half-ulp-of-1e-4
    # boundary, where Spark (HALF_UP) and DuckDB disagree; floor(+0.5)
    # is bit-identical in both engines on the same IEEE double.
    return (grid
            .select("hour", "event_type",
                    (F.floor(interp * 100 + F.lit(0.5)) / 10000.0)
                    .alias("value_interp"),
                    F.col("obs_cents").isNotNull().alias("is_observed"))
            .orderBy("hour", "event_type"))


def linear_trend(events: DataFrame) -> DataFrame:
    """Per-series linear regression surface (regr_slope / regr_intercept
    / corr / r2): the trend of event value over time, per event_type —
    the built-in OLS aggregates every metrics pipeline reaches for
    first.

    One hash aggregate; the regression aggregates are algebraic
    (mergeable sums of x, y, xy, x², y²), so map-side partial combine
    applies like any sum. Time is floor-seconds scaled to DAYS so the
    slope magnitude survives a round(4); values in exact cents until
    the regression itself (inherently float)."""
    x_days = (F.unix_timestamp("ts").cast("double") / F.lit(86400.0))
    y = F.round(F.col("value") * 100).cast("bigint") / F.lit(100.0)
    return (events
            .select("event_type", x_days.alias("x"), y.alias("y"))
            .groupBy("event_type")
            .agg((F.round(F.expr("regr_slope(y, x)"), 4) + F.lit(0.0))
                 .alias("slope_per_day"),
                 (F.round(F.expr("regr_intercept(y, x)"), 4) + F.lit(0.0))
                 .alias("intercept"),
                 (F.round(F.corr("y", "x"), 4) + F.lit(0.0))
                 .alias("corr_xy"),
                 F.count("*").alias("n_events"))
            .orderBy("event_type"))


def ewma_by_user(events: DataFrame) -> DataFrame:
    """Per-user exponentially weighted moving average of `value` with
    alpha = 1/2: s_1 = v_1, s_t = (v_t + s_{t-1}) / 2 over the
    (ts, event_id) order — the classic streaming smoother, here as the
    SEQUENTIAL-state grouped-map operator (each step depends on the
    previous; no window frame expresses it).

    Spark shape (round-14 optimization): the sequential fold runs as a
    JVM `aggregate()` over each user's (ts, event_id)-sorted event
    array, appending each step's state to the output array — one
    shuffle on user_id, no Python boundary (the former per-user
    applyInPandas paid pandas group overhead × |users| inside a
    byte-coalesced task; udf_token_counts / grouped_demean remain the
    repo's Python-boundary showcases). The halving form is deliberate:
    (v + s) / 2 is ONE IEEE rounding per step with an exact-power-of-
    two divisor, and codegen's double arithmetic is the same IEEE
    sequence the Python loop ran, so the DuckDB recursive-CTE oracle
    still matches bit-for-bit with no tolerance. Recursion depth = max
    events per user — bounded by per-entity activity, not corpus size
    (the oracle-side cost law; the Spark side is one linear pass)."""
    step = "(CAST(x.value AS DOUBLE) + acc.s) / 2.0D"
    first = "CAST(x.value AS DOUBLE)"
    fold = F.expr(
        "aggregate(arr, "
        " named_struct('s', CAST(NULL AS DOUBLE), "
        "  'out', CAST(array() AS "
        "         ARRAY<STRUCT<event_id: BIGINT, ewma: DOUBLE>>)), "
        " (acc, x) -> named_struct("
        f"  's', IF(acc.s IS NULL, {first}, {step}), "
        "   'out', array_append(acc.out, named_struct("
        "     'event_id', x.event_id, "
        f"    'ewma', IF(acc.s IS NULL, {first}, {step})))))")
    return (events.select("user_id", "event_id", "ts", "value")
            .groupBy("user_id")
            .agg(F.sort_array(F.collect_list(
                F.struct("ts", "event_id", "value"))).alias("arr"))
            .select("user_id", F.explode(fold["out"]).alias("o"))
            .select("user_id", F.col("o.event_id").alias("event_id"),
                    F.col("o.ewma").alias("ewma")))


def holt_by_user(events: DataFrame) -> DataFrame:
    """Per-user Holt double-exponential smoothing (level + trend) with
    alpha = beta = 1/2 over the (ts, event_id) order — the trend-aware
    big sibling of `ewma_by_user`, the classic forecasting smoother
    (Holt 1957):

        l_1 = v_1,  b_1 = 0
        l_t = (v_t + (l_{t-1} + b_{t-1})) / 2
        b_t = (b_{t-1} + (l_t - l_{t-1})) / 2

    Cross-engine determinism: division by 2 is exact in IEEE doubles
    and every addition is written with EXPLICIT parenthesization that
    the DuckDB recursive-CTE oracle mirrors token-for-token, so both
    engines execute the identical rounding sequence and the values
    match bit-for-bit with no tolerance (the `ewma_by_user` argument,
    extended from one rounding per step to three).

    Spark shape (round-14 optimization, the `ewma_by_user` rework
    applied to two-field state): a JVM `aggregate()` fold over each
    user's sorted event array with EXPLICIT parenthesization in the
    lambda — the identical IEEE rounding sequence the Python loop
    ran, no Python boundary; oracle recursion depth = max events per
    entity (per-entity activity, not corpus size), the Spark side is
    one linear pass.
    """
    lnew = "(CAST(x.value AS DOUBLE) + (acc.l + acc.b)) / 2.0D"
    bnew = f"(acc.b + ({lnew} - acc.l)) / 2.0D"
    first_v = "CAST(x.value AS DOUBLE)"
    fold = F.expr(
        "aggregate(arr, "
        " named_struct('l', CAST(NULL AS DOUBLE), 'b', 0.0D, "
        "  'out', CAST(array() AS ARRAY<STRUCT<event_id: BIGINT, "
        "         level: DOUBLE, trend: DOUBLE>>)), "
        " (acc, x) -> named_struct("
        f"  'l', IF(acc.l IS NULL, {first_v}, {lnew}), "
        f"  'b', IF(acc.l IS NULL, 0.0D, {bnew}), "
        "   'out', array_append(acc.out, named_struct("
        "     'event_id', x.event_id, "
        f"    'level', IF(acc.l IS NULL, {first_v}, {lnew}), "
        f"    'trend', IF(acc.l IS NULL, 0.0D, {bnew})))))")
    return (events.select("user_id", "event_id", "ts", "value")
            .groupBy("user_id")
            .agg(F.sort_array(F.collect_list(
                F.struct("ts", "event_id", "value"))).alias("arr"))
            .select("user_id", F.explode(fold["out"]).alias("o"))
            .select("user_id", F.col("o.event_id").alias("event_id"),
                    F.col("o.level").alias("level"),
                    F.col("o.trend").alias("trend")))


#: Rolling anomaly window: statistics over the previous N events.
ZSCORE_WINDOW = 20
#: Minimum history before a z-score is meaningful.
ZSCORE_MIN_N = 10


def anomaly_zscore(events: DataFrame,
                   threshold: int = 3) -> DataFrame:
    """Rolling z-score anomaly detection per event_type: flag events
    whose value deviates more than `threshold` standard deviations
    from the mean of the PREVIOUS `ZSCORE_WINDOW` events of that type
    (ordered by ts, event_id — the streaming-monitor pattern, batch
    form).

    Exactness across engines: values are integer cents, and the flag
    predicate is evaluated in PURE INTEGER arithmetic —
        |z| > T  ⇔  (n·v − s1)² > T²·(n·s2 − s1²)
    with s1 = Σ cents, s2 = Σ cents² over the frame (population
    variance; both sides multiplied by n²) — so there is no float
    rounding anywhere in the decision and the oracle matches
    value-level with no tolerance. The reported z itself is one
    integer-ratio sqrt+divide, rounded. Frames with n < ZSCORE_MIN_N
    or zero variance are unflaggable by definition (pinned, not
    data-dependent). One partitioned window, no shuffle beyond it.
    """
    cents = F.round(F.col("value") * 100).cast("bigint")
    w = (Window.partitionBy("event_type")
         .orderBy("ts", "event_id")
         .rowsBetween(-ZSCORE_WINDOW, -1))
    d = (events.select("event_id", "event_type", "ts", cents.alias("v"))
         .withColumn("n", F.count("v").over(w))
         .withColumn("s1", F.sum("v").over(w))
         .withColumn("s2", F.sum(F.col("v") * F.col("v")).over(w)))
    num = F.col("n") * F.col("v") - F.col("s1")
    den = F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")
    return (d.where((F.col("n") >= ZSCORE_MIN_N) & (den > 0)
                    & (num * num > threshold * threshold * den))
            .select("event_id", "event_type",
                    (F.col("v") / 100.0).alias("value"),
                    F.round(num / F.sqrt(den.cast("double")), 4)
                    .alias("zscore")))


def value_percentiles(events: DataFrame) -> DataFrame:
    """EXACT p50/p90/p99 of value per event_type — Spark's
    `percentile` (not approx_percentile): a full sort-based exact
    quantile with type-7 linear interpolation, the same definition
    DuckDB's quantile_cont implements, so the two engines agree on
    the interpolated DOUBLE (empirically bit-for-bit on this corpus;
    the entry rounds at 6dp to keep the gate boundary-safe against a
    1-ulp libm divergence). Exact percentiles ARE a shuffle-and-sort
    per group — the honest cost the approx_distinct/HLL family
    exists to avoid; this entry is the ground-truth side of that
    trade, and at 100 TB you run it per-partition-sampled or switch
    to approx_percentile (t-digest) once the gate has pinned the
    exact semantics."""
    p = F.expr("percentile(value, array(0.5, 0.9, 0.99))")
    agg = (events.groupBy("event_type")
           .agg(p.alias("pv"),
                F.count("*").cast("bigint").alias("n_events")))
    return (agg.select(
        "event_type", "n_events",
        F.posexplode(F.col("pv")).alias("idx", "val"))
        .select("event_type",
                F.element_at(F.array(F.lit(0.5), F.lit(0.9),
                                     F.lit(0.99)),
                             F.col("idx") + 1).alias("p"),
                F.round("val", 6).alias("value"),
                "n_events")
        .orderBy("event_type", "p"))


def event_transitions(events: DataFrame) -> DataFrame:
    """First-order Markov transition estimation over per-user event
    sequences: for each (from_type, to_type) pair of CONSECUTIVE
    events of the same user (ordered by ts, event_id), the observed
    count and the transition probability — the session-model /
    next-event-prediction primitive (the sequence analogue of
    `cooccurrence_topk`'s unordered co-occurrence).

    One partitioned window (lead) + one aggregate; the probability
    is count/row-total per from_type emitted as an exact-integer
    pair plus ONE fixed-form rounded division, so the value oracle
    needs no tolerance."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (events.select(
        "user_id", "ts", "event_id",
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"))
        .where(F.col("to_type").isNotNull()))
    counts = (pairs.groupBy("from_type", "to_type")
              .agg(F.count("*").cast("bigint").alias("n")))
    w2 = Window.partitionBy("from_type")
    return (counts
            .withColumn("n_from", F.sum("n").over(w2).cast("bigint"))
            .select("from_type", "to_type", "n", "n_from",
                    F.round(F.col("n") / F.col("n_from"), 6)
                    .alias("p"))
            .orderBy("from_type", "to_type"))


def holt_forecast(events: DataFrame, horizon: int = 3) -> DataFrame:
    """h-step-ahead Holt forecasts from each user's terminal smoother
    state: ŷ(T+h) = l_T + h·b_T for h = 1..horizon — what the
    level+trend decomposition exists FOR (`holt_values` fits it;
    this entry reads it out). Each forecast is one integer-scaled
    multiply and one add on the bit-exact terminal (level, trend),
    so the chain stays bit-deterministic across engines.

    Shape: the smoother's one grouped pass, a last-row-per-user
    window cut, then a broadcast h-row horizon frame (the
    broadcast-scalar-frame convention) — no second pass over the
    events."""
    from cloud_native_mapreduce_spark.operators.events import (  # noqa
        holt_by_user,
    )
    smoothed = holt_by_user(events)
    # terminal row = the one the recursion visited last, i.e. max in
    # the smoother's own (ts, event_id) order — ts rejoined from the
    # narrow event frame so the cut is order-correct by construction,
    # not data-dependent.
    with_ts = smoothed.join(
        events.select("user_id", "event_id", "ts"),
        ["user_id", "event_id"])
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    last = (with_ts.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("user_id", "level", "trend"))
    spark = events.sparkSession
    hs = spark.range(1, horizon + 1).select(
        F.col("id").cast("int").alias("h"))
    return (last.crossJoin(F.broadcast(hs))
            .select("user_id", "h",
                    (F.col("level") + F.col("h") * F.col("trend"))
                    .alias("forecast")))


def winsorize_stats(events: DataFrame,
                    p_lo: float = 0.01, p_hi: float = 0.99) -> DataFrame:
    """Winsorization audit per event_type: the exact [p01, p99]
    clipping boundaries and how many values each tail would clip —
    the outlier-CORRECTION step a curation pipeline runs after the
    detection step (`anomaly_zscore` flags; this clips). Boundaries
    come from the exact `percentile` (the bit-portable type-7
    interpolation `exact_percentiles` established), so the tail
    counts are integer-exact across engines: v < lo and v > hi
    compare doubles both engines computed identically. One aggregate
    + one broadcast-back join of the |types|-row boundary frame; the
    clipped COLUMN itself is `least(greatest(value, lo), hi)` on the
    same broadcast — a projection, no second shuffle."""
    b = (events.groupBy("event_type")
         .agg(F.expr(f"percentile(value, {p_lo})").alias("lo"),
              F.expr(f"percentile(value, {p_hi})").alias("hi")))
    return (events.join(F.broadcast(b), "event_type")
            .groupBy("event_type")
            .agg(F.round(F.first("lo"), 6).alias("p_lo"),
                 F.round(F.first("hi"), 6).alias("p_hi"),
                 F.count("*").cast("bigint").alias("n"),
                 F.sum((F.col("value") < F.col("lo")).cast("int"))
                 .cast("bigint").alias("n_clip_low"),
                 F.sum((F.col("value") > F.col("hi")).cast("int"))
                 .cast("bigint").alias("n_clip_high"))
            .orderBy("event_type"))


#: Drift histogram bucket width in cents.
DRIFT_BUCKET_CENTS = 5000


def drift_chisq(events: DataFrame,
                split: str = "2024-01-16") -> DataFrame:
    """Distribution-drift detection between two time periods: bucket
    each event_type's value histogram (integer-cents buckets) before
    and after `split`, then the chi-square statistic of the AFTER
    histogram against the BEFORE distribution — the monitoring gate a
    training pipeline runs before ingesting a new data drop (the
    PSI-style check, but chi-square: PSI's ln() is not bit-portable
    across engines, while chi-square is pure fixed-form rational
    arithmetic on exact integer counts, so the statistic carries a
    full value oracle).

    chisq = Σ_buckets (o_b − e_b)² / e_b with e_b = n_after ·
    (before_b + 1) / (n_before + 1) (+1 smoothing so buckets new in
    the AFTER period contribute — pinned, not data-dependent), over
    buckets observed in EITHER period. Cross-engine exactness: a
    plain double sum over buckets is aggregation-order dependent, so
    each bucket's FIXED-FORM double contribution is quantized to
    1e-4 as an integer first and the integers are summed — the
    statistic is defined as this quantized sum (documented variant;
    quantization error ≤ 5e-5 per bucket), making the whole value
    exact and order-free. Two narrow aggregates + one keyed join of
    |buckets|-sized frames; the raw stream is scanned once per
    period slice."""
    cents = F.round(F.col("value") * 100).cast("bigint")
    bucket = F.floor(cents / F.lit(DRIFT_BUCKET_CENTS)).cast("bigint")
    base = events.select("event_type", F.col("ts"),
                         bucket.alias("bucket"))
    before = (base.where(F.col("ts") < split)
              .groupBy("event_type", "bucket")
              .agg(F.count("*").cast("bigint").alias("n_b")))
    after = (base.where(F.col("ts") >= split)
             .groupBy("event_type", "bucket")
             .agg(F.count("*").cast("bigint").alias("n_a")))
    both = (before.join(after, ["event_type", "bucket"], "full_outer")
            .select("event_type", "bucket",
                    F.coalesce("n_b", F.lit(0)).cast("bigint")
                    .alias("n_b"),
                    F.coalesce("n_a", F.lit(0)).cast("bigint")
                    .alias("n_a")))
    # totals from the SAME full-outer frame (not per-period inner
    # joins): an event_type present in only one period keeps a row
    # with a zero total, matching the oracle's shape exactly.
    tot = (both.groupBy("event_type")
           .agg(F.sum("n_b").cast("bigint").alias("tb"),
                F.sum("n_a").cast("bigint").alias("ta")))
    joined = both.join(tot, "event_type")
    # e = ta * (n_b + 1) / (tb + n_buckets-ish smoothing constant):
    # keep the smoothing on the BEFORE count only (+1), fixed form.
    e = (F.col("ta") * (F.col("n_b") + 1).cast("double")
         / (F.col("tb") + 1).cast("double"))
    term = (F.col("n_a") - e) * (F.col("n_a") - e) / e
    term_q4 = F.round(term * 10000).cast("bigint")
    return (joined.groupBy("event_type")
            .agg(F.count("*").cast("bigint").alias("n_buckets"),
                 F.max("ta").cast("bigint").alias("n_after"),
                 F.max("tb").cast("bigint").alias("n_before"),
                 (F.sum(term_q4).cast("bigint") / 10000.0)
                 .alias("chisq"))
            .orderBy("event_type"))


def acf_daily(events: DataFrame, max_lag: int = 7) -> DataFrame:
    """Autocorrelation function of each event_type's daily-revenue
    series at lags 1..max_lag — the seasonality/persistence
    diagnostic a forecasting pipeline runs BEFORE choosing a model
    (a slow-decaying ACF says trend → Holt; a spike at lag 7 says
    weekly seasonality; this is the missing step between
    `linear_trend`'s single slope and the `holt_*` smoothers).

    Definition: observed-pair ACF — Pearson r over the (x_t, x_{t+k})
    pairs where BOTH days exist (inner self-join on day+k), which is
    exact and engine-agnostic even when the calendar has gaps, unlike
    lead()-over-rows which silently pairs across holes. Cross-engine
    exactness: the daily series is exact integer cents; the five
    moment sums (Σx, Σy, Σx², Σy², Σxy) are accumulated in wide
    exact integers (decimal(38,0) here, HUGEINT in the oracle —
    daily cents at 100 TB is ~1e11, squared-and-summed ~1e29, well
    inside 38 digits where plain bigint overflows), then each exact
    sum is cast to double (one deterministic nearest-rounding) and
    r = (n·Sxy − Sx·Sy) / (√(n·Sxx − Sx²)·√(n·Syy − Sy²)) is ONE
    fixed-form double expression — identical inputs, identical op
    tree, so both engines produce the same double; rounded 6dp
    in-query on both sides (IEEE sqrt is correctly rounded, hence
    portable, unlike ln/pow).

    Scale shape: one map-side-combined aggregate collapses the raw
    stream to |event_types × days| rows; everything after —
    the lag fan-out (a broadcast max_lag-row frame, NOT
    explode(array(...)) which Catalyst rewrites into an input
    re-scanning union) and the day+k self-join — runs on that tiny
    frame. Constant-variance degenerate series yield NULL via an
    explicit guard, not NaN."""
    spark = events.sparkSession
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = (events
             .groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.sum(cents).cast("bigint").alias("v")))
    lags = spark.range(1, max_lag + 1).select(
        F.col("id").cast("int").alias("lag"))
    a = daily.crossJoin(F.broadcast(lags))
    b = daily.select(F.col("event_type").alias("event_type_b"),
                     F.col("day").alias("day_b"),
                     F.col("v").alias("v_b"))
    pairs = a.join(
        b, (F.col("event_type") == F.col("event_type_b"))
        & (F.expr("date_add(day, lag)") == F.col("day_b"))).select(
            "event_type", "lag",
            F.col("v").cast("decimal(38,0)").alias("x"),
            F.col("v_b").cast("decimal(38,0)").alias("y"))
    sums = (pairs.groupBy("event_type", "lag")
            .agg(F.count("*").cast("bigint").alias("n_pairs"),
                 F.sum("x").cast("double").alias("sx"),
                 F.sum("y").cast("double").alias("sy"),
                 F.sum(F.col("x") * F.col("x")).cast("double")
                 .alias("sxx"),
                 F.sum(F.col("y") * F.col("y")).cast("double")
                 .alias("syy"),
                 F.sum(F.col("x") * F.col("y")).cast("double")
                 .alias("sxy")))
    n = F.col("n_pairs").cast("double")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    r = F.when((vx > 0) & (vy > 0),
               F.round(cov / (F.sqrt(vx) * F.sqrt(vy)), 6)
               + F.lit(0.0))
    return (sums.select("event_type", "lag", "n_pairs",
                        r.alias("acf"))
            .orderBy("event_type", "lag"))


def session_concurrency(events: DataFrame,
                        gap_minutes: int = 30) -> DataFrame:
    """Peak CONCURRENT sessions per day — the interval-overlap
    (sweep-line) analytics family: gap-sessionize per user, then
    count how many user-sessions overlap at each boundary instant
    and report each day's peak and session-start count. The
    capacity-planning metric (`events_sessionize` PRODUCES sessions;
    this CONSUMES the intervals — per-interval rows can't express
    overlap ACROSS rows without a sweep).

    Semantics (deterministic, engine-agnostic): a session is a
    maximal per-user event run where each gap to the previous event
    is < gap_minutes (pure timestamp comparison via prev + INTERVAL
    <= ts — no epoch conversion, so no timezone coupling); the
    session is active on the CLOSED interval [first_ts, last_ts]
    (single-event sessions count at their instant), swept as +1 at
    start / −1 at last_ts + 1 second, deltas NETTED per instant
    before the running sum so simultaneous starts/ends can't produce
    order-dependent transients. A day's peak is the max over its
    boundary instants AND the carry-in level from the previous
    reported day's end (a session spanning midnight holds its level
    with no boundary); days with no boundary instants have no row.

    Scale shape: the raw stream collapses through the per-user
    session windows (partitioned, parallel) to one row per boundary
    INSTANT. The running concurrency is then HIERARCHICAL — a
    per-day PARTITIONED running sum plus day-level carry-in offsets
    — instead of one global-order window over all instants, which
    serializes the whole timeline through a single partition at
    100 TB. The offsets themselves are a broadcast triangular
    self-join over the |days| frame (no window at all — the repo
    gate forbids unpartitioned Window nodes; |days| scales with
    calendar time, not data volume, so the triangle stays trivial).
    Integer exact throughout; full value oracle."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    is_new = (prev.isNull() |
              (prev + F.expr(f"INTERVAL {gap_minutes} MINUTES")
               <= F.col("ts"))).cast("int")
    sid = F.sum(is_new).over(
        w.rowsBetween(Window.unboundedPreceding, 0))
    sessions = (events
                .select("user_id", "ts", "event_id",
                        sid.alias("sid"))
                .groupBy("user_id", "sid")
                .agg(F.min("ts").alias("s"), F.max("ts").alias("e")))
    bounds = (sessions.select(F.col("s").alias("t"),
                              F.lit(1).alias("delta"))
              .unionAll(sessions.select(
                  (F.col("e") + F.expr("INTERVAL 1 SECOND"))
                  .alias("t"), F.lit(-1).alias("delta"))))
    inst = (bounds.groupBy("t")
            .agg(F.sum("delta").cast("bigint").alias("net"),
                 F.sum(F.when(F.col("delta") > 0, 1).otherwise(0))
                 .cast("bigint").alias("starts"))
            .withColumn("day", F.to_date("t")))
    # hierarchical running sum: in-day prefix (partitioned) + the
    # tiny |days|-row offset frame (the only global-order window).
    wday = (Window.partitionBy("day").orderBy("t")
            .rowsBetween(Window.unboundedPreceding, 0))
    in_day = inst.select(
        "day", "t", "starts",
        F.sum("net").over(wday).alias("prefix"))
    day_tot = (inst.groupBy("day")
               .agg(F.sum("net").alias("day_net")))
    prior = day_tot.select(F.col("day").alias("day_p"),
                           F.col("day_net").alias("net_p"))
    offsets = (day_tot.join(F.broadcast(prior),
                            F.col("day_p") < F.col("day"), "left")
               .groupBy("day")
               .agg(F.coalesce(F.sum("net_p"), F.lit(0))
                    .alias("carry_in")))
    conc = (in_day.join(F.broadcast(offsets), "day")
            .select("day", "starts",
                    (F.col("prefix") + F.col("carry_in"))
                    .cast("bigint").alias("conc")))
    per_day = (conc.groupBy("day")
               .agg(F.sum("starts").cast("bigint").alias("n_starts"),
                    F.max("conc").cast("bigint").alias("peak_in_day")))
    return (per_day.join(F.broadcast(offsets), "day")
            .select(F.date_format("day", "yyyy-MM-dd").alias("day"),
                    "n_starts",
                    F.greatest(F.col("peak_in_day"),
                               F.col("carry_in").cast("bigint"))
                    .alias("peak_concurrent"))
            .orderBy("day"))


#: Decay window in days: contributions older than this are cut (at
#: half-life 1 day they are < 2^-40 ≈ 1e-12 of a fresh event — far
#: below any ranking decision), which is what makes the score an
#: EXACT bounded integer sum instead of an unbounded float one.
DECAY_WINDOW_DAYS = 40


def decayed_popularity(events: DataFrame,
                       window_days: int = DECAY_WINDOW_DAYS
                       ) -> DataFrame:
    """Exponentially time-decayed popularity per event_type — the
    'trending now' score: each event contributes 2^-age_days
    (half-life = 1 day) relative to the corpus's most recent day,
    so yesterday's thousand events rank below today's two thousand.
    The recency-weighted counting every feed/popularity pipeline
    runs; distinct from `ewma_values` (per-entity sequential
    smoothing of a VALUE series — this is corpus-level decayed
    COUNTING for ranking).

    Cross-engine exactness (the hll_estimate dyadic convention):
    2^-age is an exact power of two, so each event's contribution is
    accumulated as the integer 2^(W - age) (W = window_days; older
    events are cut — below 1e-12 of a fresh event, see
    DECAY_WINDOW_DAYS) and the final score is ONE exact division by
    2^W — every intermediate is an exact integer, the sum is
    aggregation-order-free, and the resulting double is bit-identical
    on both engines with no rounding step at all. Headroom: the
    bigint sum caps at n_fresh_events·2^40 — lift to decimal(38,0)
    past ~8M same-day events per type.

    Scale shape: the reference day rides a broadcast 1-row frame
    (never a driver collect); one map-side-combined aggregate."""
    ref = events.agg(F.max(F.to_date("ts")).alias("ref_day"))
    aged = (events.crossJoin(F.broadcast(ref))
            .select("event_type",
                    F.datediff("ref_day", F.to_date("ts"))
                    .alias("age")))
    term = F.when(
        (F.col("age") >= 0) & (F.col("age") <= window_days),
        F.expr(f"shiftleft(CAST(1 AS BIGINT), {window_days} - age)"))
    return (aged.groupBy("event_type")
            .agg(F.count(term).cast("bigint").alias("n_in_window"),
                 (F.sum(term).cast("double")
                  / F.lit(float(1 << window_days)))
                 .alias("decayed_score"))
            .orderBy("event_type"))


def holt_winters_values(events: DataFrame, period: int = 7
                        ) -> DataFrame:
    """Per-event_type Holt-Winters ADDITIVE triple-exponential
    smoothing (level + trend + weekly seasonality, α = β = γ = 1/2)
    over the daily-revenue series — the seasonal member that
    completes the smoothing family (`ewma_values`: level;
    `holt_values`: level+trend; this: level+trend+season — the model
    the `acf_daily` lag-7 spike tells you to reach for).

    Pinned variant (documented, engine-agnostic): observations are
    day-indexed per type; seasonal slot = (rn−1) mod period, slots
    seed at 0 (so the first cycle's updates double as seeding — no
    special casing beyond the rn=1 base row l=y, b=0, s=0); updates
    in halving form:
        l_t = ((y − s_prev) + (l + b)) / 2
        b_t = (b + (l_t − l)) / 2
        s_t = ((y − (l + b)) + s_prev) / 2
    Every division is by 2 (exact) and both engines evaluate the
    SAME parenthesization, so the Python loop and the recursive-CTE
    oracle (which carries the `period` seasonal slots as rotating
    columns) match bit-for-bit with NO tolerance — the `holt_values`
    convention extended to vector state.

    Shape: the corpus collapses to |types × days| daily cents (one
    map-side-combined aggregate); the SEQUENTIAL recursion runs per
    type via applyInPandas (state never leaves the group, Arrow both
    ways); recursion depth = |days| — calendar-bounded, not
    data-volume-bounded."""
    daily = (events
             .groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.sum(F.round(F.col("value") * 100).cast("bigint"))
                  .cast("double").alias("y")))

    def smooth(pdf):
        import pandas as _pd
        pdf = pdf.sort_values("day")
        slots = [0.0] * period
        lvl = trd = 0.0
        out_l, out_b, out_s = [], [], []
        for i, y in enumerate(pdf["y"]):
            y = float(y)
            k = i % period
            if i == 0:
                lvl, trd = y, 0.0
                slots[k] = 0.0
                s_new = 0.0
            else:
                sp = slots[k]
                lb = lvl + trd
                l_new = ((y - sp) + lb) / 2
                b_new = (trd + (l_new - lvl)) / 2
                s_new = ((y - lb) + sp) / 2
                lvl, trd = l_new, b_new
                slots[k] = s_new
            out_l.append(lvl)
            out_b.append(trd)
            out_s.append(s_new)
        return _pd.DataFrame({
            "event_type": pdf["event_type"],
            "day": pdf["day"].astype(str),
            "level": out_l, "trend": out_b, "seasonal": out_s})

    return (daily.groupBy("event_type")
            .applyInPandas(smooth,
                           "event_type string, day string, "
                           "level double, trend double, "
                           "seasonal double"))


def path_trigrams(events: DataFrame, top_k: int = 20) -> DataFrame:
    """Most frequent length-3 CONTIGUOUS event-type paths across user
    sequences — the sequential-pattern step past `event_transitions`'
    first order (PrefixSpan's contiguous-trigram slice; full
    gap-tolerant PrefixSpan enumerates a combinatorial pattern
    lattice — the contiguous form is the one with a distributed
    one-window cost law and covers the session-path use). Two leads
    share ONE partitioned window; top-k is a TakeOrdered cut with a
    full deterministic (count DESC, path ASC) order."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (events.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"))
        .where(F.col("t3").isNotNull()))
    return (tri.groupBy("t1", "t2", "t3")
            .agg(F.count("*").cast("bigint").alias("n"))
            .orderBy(F.col("n").desc(), "t1", "t2", "t3")
            .limit(top_k))


def anova_oneway(events: DataFrame) -> DataFrame:
    """One-way ANOVA of event value (cents) across event_types — the
    continuous-response hypothesis test next to `drift_chisq`'s
    categorical chi-square: does the mean purchase value actually
    differ between event types, stated as the F statistic
    F = (SSB/(k−1)) / (SSW/(n−k)) with exact effect sizes.

    Exactness: per-group n, Σy, Σy² accumulate as exact wide
    integers (decimal(38,0) — corpus-wide squared cents pass bigint);
    each group's s²/n contribution is a FIXED-FORM double quantized
    to 1e-4 as an integer before the cross-group sum (the
    drift_chisq convention — a raw double sum across groups is
    aggregation-order dependent), and SSB/SSW/F are one fixed-form
    double expression over the quantized sum and the exact grand
    totals, rounded in-query on both engines (documented quantized
    variant; error ≤ 5e-5 per group). Output: one row per group with
    its exact n and mean (rounded), plus the corpus-wide F/df columns
    repeated per row so the frame stays flat and fully value-checked.
    Shape: one map-side-combined aggregate to the k-row group frame;
    everything after is k-sized."""
    y = F.round(F.col("value") * 100).cast("bigint")
    g = (events.select("event_type", y.alias("y"))
         .groupBy("event_type")
         .agg(F.count("*").cast("bigint").alias("n"),
              F.sum(F.col("y").cast("decimal(38,0)")).alias("s"),
              F.sum(F.col("y").cast("decimal(38,0)")
                    * F.col("y").cast("decimal(38,0)")).alias("ss")))
    tot = g.agg(F.sum("n").cast("double").alias("tn"),
                F.sum("s").cast("double").alias("ts"),
                F.sum("ss").cast("double").alias("tss"),
                F.count("*").cast("double").alias("k"))
    j = g.crossJoin(F.broadcast(tot))
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    ssd = F.col("ss").cast("double")
    # ssb = sum_g s_g^2/n_g - ts^2/tn ; ssw = tss - sum_g s_g^2/n_g
    per = j.select(
        "event_type", "n", sd.alias("sd"), ssd.alias("ssd"),
        nd.alias("nd"), "tn", "ts", "tss", "k",
        F.round(sd * sd / nd * 10000).cast("bigint")
        .alias("sq_over_n_q4"))
    glob = (per.groupBy("tn", "ts", "tss", "k")
            .agg((F.sum("sq_over_n_q4").cast("double") / 10000.0)
                 .alias("sum_sq_over_n")))
    ssb = F.col("sum_sq_over_n") - F.col("ts") * F.col("ts") / F.col("tn")
    ssw = F.col("tss") - F.col("sum_sq_over_n")
    fstat = F.when(
        (F.col("k") > 1) & (F.col("tn") > F.col("k")) & (ssw > 0),
        F.round((ssb / (F.col("k") - 1))
                / (ssw / (F.col("tn") - F.col("k"))), 6) + F.lit(0.0))
    gl = glob.select(
        "tn", "ts", "tss", "k",
        F.round(ssb, 4).alias("ssb_q"),
        F.round(ssw, 4).alias("ssw_q"),
        fstat.alias("f_stat"))
    return (per.select("event_type", "n",
                       (F.round(F.col("sd") / F.col("nd"), 4)
                        + F.lit(0.0)).alias("mean_cents"),
                       "tn", "ts", "tss", "k")
            .join(F.broadcast(gl), ["tn", "ts", "tss", "k"])
            .select("event_type", "n", "mean_cents",
                    F.col("k").cast("bigint").alias("n_groups"),
                    (F.round(F.col("ssb_q"), 4) + F.lit(0.0))
                    .alias("ssb"),
                    (F.round(F.col("ssw_q"), 4) + F.lit(0.0))
                    .alias("ssw"),
                    "f_stat")
            .orderBy("event_type"))


#: CUSUM tuning (Page 1954 tabular form): planted shift magnitude in
#: cents, allowance K = shift/2 (the classical half-shift tuning), and
#: decision interval H = 4K. Sized against the data's noise: value is
#: ~uniform 0-490$ (sigma ~ 141$), so K=$100 keeps the pre-shift
#: statistic pinned near zero (drift E[d] = -K) while the +$200 shift
#: drives it up at +$100/point - detection within a handful of points,
#: few false alarms.
CUSUM_SHIFT = 20_000
CUSUM_K = 10_000
CUSUM_H = 40_000
CUSUM_PIVOT = "2024-01-20 00:00:00"


def cusum_changepoint(events: DataFrame) -> DataFrame:
    """Tabular CUSUM changepoint detection per event_type over a
    PLANTED level shift: values (integer cents) get +CUSUM_SHIFT from
    CUSUM_PIVOT onward, and the detector reports when each type's
    upper CUSUM crosses the decision interval.

    The textbook recursion S⁺_i = max(0, S⁺_{i-1} + x_i − μ0 − K) is
    not a window aggregate — but its closed form IS:
        S⁺_i = P_i − min(0, min_{j≤i} P_j),   P = prefix sum of
    (x − μ0 − K) — so the whole detector is ONE partitioned window
    with two running aggregates (sum + min) over (ts, event_id), no
    recursion, no UDF, exact int64 arithmetic end-to-end. μ0 is each
    type's PRE-pivot mean floored to a cent (exact integer division of
    positive sums — identical in both engines), broadcast back as a
    5-row frame.

    Output (|event_type| rows): points, alarms, first alarm timestamp
    (string), and the maximum upper/lower CUSUM statistics.
    """
    cents = F.round(F.col("value") * 100).cast("bigint")
    pivot = F.lit(CUSUM_PIVOT).cast("timestamp")
    x = (cents + F.when(F.col("ts") >= pivot, CUSUM_SHIFT)
         .otherwise(0)).alias("x")
    d = events.select("event_id", "event_type", "ts", x)
    base = (d.where(F.col("ts") < pivot)
            .groupBy("event_type")
            .agg(F.expr("div(sum(x), count(*))").alias("mu0")))
    w = (Window.partitionBy("event_type")
         .orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    scored = (d.join(F.broadcast(base), "event_type")
              .withColumn("pu", F.sum(F.col("x") - F.col("mu0")
                                      - F.lit(CUSUM_K)).over(w))
              .withColumn("pl", F.sum(F.col("mu0") - F.lit(CUSUM_K)
                                      - F.col("x")).over(w))
              .withColumn("su", F.col("pu")
                          - F.least(F.lit(0).cast("bigint"),
                                    F.min("pu").over(w)))
              .withColumn("sl", F.col("pl")
                          - F.least(F.lit(0).cast("bigint"),
                                    F.min("pl").over(w))))
    return (scored.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_points"),
        F.sum(F.when(F.col("su") > CUSUM_H, 1).otherwise(0))
        .cast("bigint").alias("n_alarms_up"),
        F.sum(F.when(F.col("sl") > CUSUM_H, 1).otherwise(0))
        .cast("bigint").alias("n_alarms_down"),
        F.date_format(
            F.min(F.when(F.col("su") > CUSUM_H, F.col("ts"))),
            "yyyy-MM-dd HH:mm:ss").alias("first_alarm_ts"),
        F.max("su").cast("bigint").alias("max_s_up"),
        F.max("sl").cast("bigint").alias("max_s_down")))


def ab_test_conversion(events: DataFrame) -> DataFrame:
    """Two-proportion z-test on a deterministic hash A/B split of
    users: arm = md5-parity of user_id; conversion = the user emitted
    a 'purchase' event on the experiment's first day (Jan 1 — the
    full-month window saturates at 100% conversion, which degenerates
    the pooled variance). The null is true by construction
    (the split is independent of behavior), so |z| is small — the
    calibrated-experiment sanity check an experimentation platform
    runs continuously (an A/A test).

    z = (p_a − p_b) / sqrt(p̂(1−p̂)(1/n_a+1/n_b)) from EXACT integer
    counts; the only float arithmetic is the final expression
    (IEEE divide/sqrt, portable), rounded 4dp in-query. One
    per-user aggregate + one 2-row aggregate; nothing else."""
    arm = (F.conv(F.substring(F.md5(F.col("user_id").cast("string")),
                              1, 8), 16, 10).cast("bigint") % 2)
    per_user = (events.groupBy("user_id")
                .agg(F.max(F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") < F.lit("2024-01-02")
                       .cast("timestamp")), 1)
                    .otherwise(0)).alias("converted"))
                .select(arm.alias("arm"), "converted"))
    arms = (per_user.groupBy("arm")
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.sum("converted").cast("bigint").alias("conv")))
    a = arms.where(F.col("arm") == 0).select(
        F.col("n").alias("n_a"), F.col("conv").alias("conv_a"))
    b = arms.where(F.col("arm") == 1).select(
        F.col("n").alias("n_b"), F.col("conv").alias("conv_b"))
    j = a.crossJoin(F.broadcast(b))
    pa = F.col("conv_a") / F.col("n_a")
    pb = F.col("conv_b") / F.col("n_b")
    pp = (F.col("conv_a") + F.col("conv_b")) / (F.col("n_a")
                                                + F.col("n_b"))
    z = (pa - pb) / F.sqrt(pp * (1 - pp)
                           * (1 / F.col("n_a") + 1 / F.col("n_b")))
    return j.select(
        "n_a", "conv_a", "n_b", "conv_b",
        (F.round(pa, 4) + F.lit(0.0)).alias("rate_a"),
        (F.round(pb, 4) + F.lit(0.0)).alias("rate_b"),
        (F.round(z, 4) + F.lit(0.0)).alias("z"),
        (F.abs(F.round(z, 4)) > 1.96).alias("significant"))


#: Interval half-width for coverage islands (seconds).
COVERAGE_SPAN_S = 300


def interval_coverage(events: DataFrame) -> DataFrame:
    """Gaps-and-islands interval union per user: each event claims
    [ts, ts+COVERAGE_SPAN_S); overlapping/adjacent claims merge into
    islands; report per user the island count, total covered seconds
    (the union length — NOT the naive sum, which double-counts
    overlap), and the longest island.

    The classic two-window form, both partitioned by user: (1) a new
    island starts where the start exceeds the running max of all
    PREVIOUS ends (ties broken by event_id — both engines order
    identically); (2) the island id is the running sum of those
    starts. Exact epoch-second integers throughout (session tz is
    UTC, so `unix_timestamp` equals the oracle's `epoch`)."""
    s = F.unix_timestamp("ts").cast("bigint")
    d = events.select("user_id", "event_id", s.alias("s"),
                      (s + COVERAGE_SPAN_S).alias("e"))
    w_prev = (Window.partitionBy("user_id").orderBy("s", "event_id")
              .rowsBetween(Window.unboundedPreceding, -1))
    w_run = (Window.partitionBy("user_id").orderBy("s", "event_id")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    isl = (d.withColumn("prev_max_e", F.max("e").over(w_prev))
           .withColumn("new_island",
                       F.when(F.col("prev_max_e").isNull()
                              | (F.col("s") > F.col("prev_max_e")), 1)
                       .otherwise(0))
           .withColumn("island", F.sum("new_island").over(w_run)))
    per_island = (isl.groupBy("user_id", "island")
                  .agg(F.min("s").alias("i_start"),
                       F.max("e").alias("i_end")))
    return (per_island.groupBy("user_id")
            .agg(F.count("*").cast("bigint").alias("n_islands"),
                 F.sum(F.col("i_end") - F.col("i_start"))
                 .cast("bigint").alias("covered_seconds"),
                 F.max(F.col("i_end") - F.col("i_start"))
                 .cast("bigint").alias("longest_island_seconds")))


#: Fixed state space of the events Markov chain (the generator's five
#: types — pinned so the power iteration can unroll as a fixed-form
#: expression tree shared with the oracle).
MARKOV_STATES = ("click", "error", "purchase", "signup", "view")
#: Power-iteration rounds (row-stochastic 5-state chains mix fast).
MARKOV_ROUNDS = 8


def markov_stationary(events: DataFrame) -> DataFrame:
    """Stationary distribution of the per-user event-type Markov chain
    by unrolled power iteration: π' = πP repeated MARKOV_ROUNDS times
    from the uniform start.

    The state space is the generator's FIXED five types, so the 5×5
    transition matrix pivots into ONE wide row (t_<i>_<j> columns:
    exact count / exact row-total, one IEEE division each) and every
    iteration is a fixed-form expression — five 5-term sum-products
    written in a pinned term order — which both engines parse
    verbatim (the ols3_exprs portability trick applied to an
    iterated map). Missing transitions contribute probability 0;
    rounds unroll at plan build, no driver loop state.

    Output: (state, pi) after MARKOV_ROUNDS rounds, rounded 6dp."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (events.select(
        "user_id", "ts", "event_id",
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"))
        .where(F.col("to_type").isNotNull()))
    counts = (pairs.groupBy("from_type", "to_type")
              .agg(F.count("*").cast("bigint").alias("n")))
    totals = (counts.groupBy("from_type")
              .agg(F.sum("n").cast("bigint").alias("tot")))
    probs = counts.join(totals, "from_type").select(
        "from_type", "to_type",
        (F.col("n") / F.col("tot")).alias("p"))
    wide = probs.groupBy().pivot(
        "from_type", list(MARKOV_STATES)).agg(
        *[F.coalesce(F.sum(F.when(F.col("to_type") == t, F.col("p"))),
                     F.lit(0.0)).alias(t) for t in MARKOV_STATES])
    # pivot(single agg list) names columns "<from>_<to>". Each round
    # MATERIALIZES as five new columns via a chained select (naive
    # textual substitution grows 5^rounds terms and OOMs codegen).
    # an absent from_type leaves its whole pivot group NULL (the
    # in-agg coalesce never runs for missing pivot values) — a row
    # without observed outgoing transitions contributes zero
    cur = wide.select(
        *[F.coalesce(F.col(f"`{s}_{t}`"), F.lit(0.0)).alias(f"{s}_{t}")
          for s in MARKOV_STATES for t in MARKOV_STATES],
        *[F.expr(f"1.0 / {len(MARKOV_STATES)}").alias(f"v_{t}")
          for t in MARKOV_STATES])
    for _ in range(MARKOV_ROUNDS):
        nxt = [F.expr("(" + " + ".join(
            f"(v_{s} * `{s}_{t}`)" for s in MARKOV_STATES) + ")")
            .alias(f"nv_{t}") for t in MARKOV_STATES]
        cur = cur.select("*", *nxt)
        cur = cur.select(
            *[c for c in cur.columns if not c.startswith(("v_", "nv_"))],
            *[F.col(f"nv_{t}").alias(f"v_{t}") for t in MARKOV_STATES])
    out = cur.select(*[
        (F.round(F.col(f"v_{t}"), 6) + F.lit(0.0)).alias(t)
        for t in MARKOV_STATES])
    stacked = out.select(F.expr(
        "stack({n}, {args}) as (state, pi)".format(
            n=len(MARKOV_STATES),
            args=", ".join(f"'{t}', `{t}`" for t in MARKOV_STATES))))
    return stacked


def multitouch_attribution(events: DataFrame) -> DataFrame:
    """Marketing-style multi-touch attribution: every purchase is
    credited to the view/click touches of the same user in the 7 days
    before it, under the three standard models at once — first-touch,
    last-touch, and linear (the batch credit-assignment complement of
    the streaming click→purchase interval join in streaming/core.py).

    Exactness: first/last credits are integer counts with a
    deterministic (ts, event_id) tie order; linear credit quantizes
    per touch as round(1e6 / k) micro-credits (k = touch count of the
    purchase) so the cross-row sum is an exact integer both engines
    agree on — never a sum of raw 1/k doubles.

    Scale: the purchase×touch join is user-keyed (one shuffle on
    user_id, the natural partitioning); pairs per purchase are
    bounded by one user's 7-day activity; the rank windows partition
    by purchase id (no global window); the output is
    |touch types|-sized."""
    p = (events.where(F.col("event_type") == "purchase")
         .select(F.col("user_id"), F.col("event_id").alias("p_id"),
                 F.col("ts").alias("p_ts")))
    t = (events.where(F.col("event_type").isin("view", "click"))
         .select(F.col("user_id"), F.col("event_id").alias("t_id"),
                 F.col("ts").alias("t_ts"),
                 F.col("event_type").alias("touch_type")))
    j = (p.join(t, "user_id")
         .where((F.col("t_ts") < F.col("p_ts"))
                & (F.col("t_ts") >= F.col("p_ts")
                   - F.expr("INTERVAL 7 DAYS"))))
    w = Window.partitionBy("p_id")
    ranked = (j.withColumn("k", F.count(F.lit(1)).over(w))
              .withColumn("rf", F.row_number().over(
                  w.orderBy(F.col("t_ts").asc(), F.col("t_id").asc())))
              .withColumn("rl", F.row_number().over(
                  w.orderBy(F.col("t_ts").desc(), F.col("t_id").desc()))))
    return (ranked.groupBy("touch_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_touches"),
                 F.sum(F.when(F.col("rf") == 1, 1).otherwise(0))
                 .cast("bigint").alias("first_credit"),
                 F.sum(F.when(F.col("rl") == 1, 1).otherwise(0))
                 .cast("bigint").alias("last_credit"),
                 F.sum(F.round(F.lit(1000000.0) / F.col("k"))
                       .cast("bigint")).cast("bigint")
                 .alias("linear_micro")))


def entropy_profile(events: DataFrame) -> DataFrame:
    """Behavioral-entropy histogram: Shannon entropy (bits) of each
    user's event-type mix, H = log2(n) - (sum c*log2(c))/n, bucketed
    into 0.1-bit bands — the engagement-diversity profile (band 0 =
    single-type users, the top band approaches log2(|types|)).

    Float discipline: counts are exact; the only float work is ≤
    |event types| log2 terms per user combined by a fixed-form
    expression, and H is bounded by log2(5) ≈ 2.32 so its absolute
    ulp error (~1e-14) sits eleven orders below the 0.1 band width —
    banding is engine-stable (same reasoning as curation.py's
    avg_logprob rounding). Per-band min/max H are order-free
    aggregates rounded 4dp; no corpus-sized double sum anywhere.

    Scale: one shuffle to (user, type) counts, one to per-user rows,
    one |bands|-sized aggregate; state per user is ≤ |types| rows."""
    ct = (events.groupBy("user_id", "event_type")
          .agg(F.count(F.lit(1)).alias("c")))
    peru = (ct.groupBy("user_id")
            .agg(F.sum("c").cast("bigint").alias("n"),
                 F.sum(F.col("c") * F.log2("c")).alias("clogc")))
    h = F.log2(F.col("n")) - F.col("clogc") / F.col("n")
    banded = peru.select(
        F.col("n"), h.alias("h"),
        F.floor(h * 10).cast("int").alias("entropy_band"))
    return (banded.groupBy("entropy_band")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"),
                 F.sum("n").cast("bigint").alias("n_events"),
                 (F.round(F.min("h"), 4) + F.lit(0.0)).alias("min_h"),
                 (F.round(F.max("h"), 4) + F.lit(0.0)).alias("max_h")))


#: Kalman filter constants for `kalman_daily`: random-walk process
#: variance Q and observation variance R (fixed, documented — the
#: filter is a smoother with gain K converging to the steady-state
#: root of K² R = (1-K) Q).
KALMAN_Q = 10.0
KALMAN_R = 100.0


def kalman_daily(events: DataFrame) -> DataFrame:
    """1-D Kalman filter (random-walk state, fixed Q/R) over the
    daily event-count series of each event type — the
    optimal-under-Gaussian sibling of the Holt/EWMA smoothers, and
    the engine's batch `applyInPandas` showcase: a genuinely
    sequential per-group recursion that has no window/aggregate
    form, run as one Arrow batch per (small) group.

    Recursion per type over days in order, x0 = z0, P0 = R:

        P_pred = P + Q;  K = P_pred / (P_pred + R)
        x      = x + K * (z - x);  P = (1 - K) * P_pred

    Float portability: the DuckDB oracle executes the IDENTICAL
    IEEE-754 op sequence via a recursive CTE (same parenthesization,
    literal Q/R), and numpy/pandas float64 scalar ops are the same
    C doubles — bit-identical trajectories, rounded 6dp in-query on
    both sides for belt-and-braces.

    Scale: the corpus collapses to |types| × |days| rows in one
    map-side-combined aggregate BEFORE the Python stage; the
    sequential work per group is the day count, not the data size,
    and groups parallelize across executors."""
    import pandas as pd

    daily = (events.groupBy(F.col("event_type"),
                            F.to_date("ts").alias("day"))
             .agg(F.count(F.lit(1)).alias("z")))

    schema = ("event_type string, day string, z bigint, "
              "x_filt double, k_gain double")

    def _filter(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        x = float(pdf.z.iloc[0])
        p = KALMAN_R
        xs, ks = [x], [0.0]
        for z in pdf.z.iloc[1:]:
            p_pred = p + KALMAN_Q
            k = p_pred / (p_pred + KALMAN_R)
            x = x + k * (float(z) - x)
            p = (1.0 - k) * p_pred
            xs.append(x)
            ks.append(k)
        return pd.DataFrame({
            "event_type": pdf.event_type,
            "day": pdf.day.astype(str),
            "z": pdf.z,
            "x_filt": xs,
            "k_gain": ks,
        })

    # rounding happens ENGINE-side (Spark SQL round, matching the
    # oracle's SQL round on bit-identical doubles) — Python's
    # banker's round is a different function and must not touch the
    # comparison surface
    out = daily.groupBy("event_type").applyInPandas(_filter, schema)
    return out.select(
        "event_type", "day", "z",
        (F.round("x_filt", 6) + F.lit(0.0)).alias("x_filt"),
        (F.round("k_gain", 6) + F.lit(0.0)).alias("k_gain"))


def _survival_durations(events: DataFrame) -> DataFrame:
    """(user_id, t, e) per signed-up user: the survival family's
    time-to-first-purchase. `t` is whole 86400s-days from the first
    signup to the first purchase at or after it (`e` = 1) or to the
    corpus max timestamp (`e` = 0, censored), on exact integer
    microseconds (unix_micros here, epoch_us in the oracles); a
    purchase before the signup counts as censored."""
    us_day = 86400000000
    first = (events.where(F.col("event_type") == "signup")
             .groupBy("user_id")
             .agg(F.min(F.unix_micros("ts")).alias("s_us")))
    fp = (events.where(F.col("event_type") == "purchase")
          .groupBy("user_id").agg(F.min(F.unix_micros("ts"))
                                  .alias("p_us")))
    horizon = events.agg(F.max(F.unix_micros("ts")).alias("h_us"))
    return (first.join(fp, "user_id", "left")
            .crossJoin(F.broadcast(horizon))
            .select(
                "user_id",
                # floor, NOT cast: Spark casts double->bigint by
                # truncation but DuckDB by rounding — floor() is the
                # portable integer-day bucket on both engines
                F.when(F.col("p_us") >= F.col("s_us"),
                       F.floor((F.col("p_us") - F.col("s_us"))
                               / F.lit(us_day))).alias("ev_day"),
                F.floor((F.col("h_us") - F.col("s_us"))
                        / F.lit(us_day)).alias("cens_day"))
            .select("user_id",
                    F.coalesce(F.col("ev_day"), F.col("cens_day"))
                    .cast("bigint").alias("t"),
                    F.col("ev_day").isNotNull().cast("int").alias("e")))


def _survival_risk(events: DataFrame) -> DataFrame:
    """(t, d, n_risk) on every event day of `_survival_durations`: `d`
    users convert on day t, `n_risk` are still at risk (duration >=
    t). The day frame is cut once and its risk sets come from a
    broadcast triangular count over it, never a users×days join."""
    days = cut(_survival_durations(events).groupBy("t")
               .agg(F.sum("e").cast("bigint").alias("d"),
                    F.count(F.lit(1)).cast("bigint").alias("ended")))
    later = days.select(F.col("t").alias("t2"),
                        F.col("ended").alias("ended2"))
    return (days.join(F.broadcast(later), F.col("t2") >= F.col("t"))
            .groupBy("t", "d")
            .agg(F.sum("ended2").cast("bigint").alias("n_risk"))
            .where(F.col("d") > 0))


def kaplan_meier(events: DataFrame) -> DataFrame:
    """Kaplan-Meier survival curve for time-to-first-purchase after
    first signup, right-censored at the end of the observation
    window — the standard conversion-lag estimator (Kaplan & Meier
    1958) done exactly:

      duration_u = whole 86400s-days from first signup to the first
      purchase at-or-after it (event) or to the corpus max timestamp
      (censored), computed on exact integer MICROSECONDS (unix_micros
      here, epoch_us in the oracle — no float time math);
      S(t) = prod over event days d <= t of (1 - d_d / n_d), with
      n_d the at-risk count (duration >= d), all exact integers.

    The corpus collapses to per-user first-timestamps (keyed
    aggregates), then to a <= |days| day frame; risk sets come from a
    broadcast triangular count over that bounded frame, and the
    survival product is a sequential IEEE fold over the day frame in
    ONE single-group applyInPandas task (bounded rows — the
    kalman_daily precedent), with the oracle replaying the identical
    op sequence via a recursive CTE. Rounding is engine-side."""
    import pandas as pd

    risk = _survival_risk(events)

    schema = "t bigint, n_risk bigint, n_events bigint, s double"

    def _km(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("t").reset_index(drop=True)
        s = 1.0
        out = []
        for _, row in pdf.iterrows():
            s = s * (1.0 - float(row.d) / float(row.n_risk))
            out.append(s)
        return pd.DataFrame({"t": pdf.t, "n_risk": pdf.n_risk,
                             "n_events": pdf.d, "s": out})

    curve = (risk.withColumn("g", F.lit(1)).groupBy("g")
             .applyInPandas(_km, schema))
    return curve.select("t", "n_risk", "n_events",
                        (F.round("s", 6) + F.lit(0.0)).alias("s"))


def seasonal_decompose(events: DataFrame, period: int = 7) -> DataFrame:
    """Classical additive seasonal decomposition (the moving-average
    method STL descends from — Kendall/Stuart) of each event_type's
    daily-revenue series: observed = trend + seasonal + residual,
    with trend the centered `period`-day moving average, the seasonal
    component the RAW day-of-week mean of the detrended series
    (statsmodels additionally renormalizes the 7 means to sum to
    zero — a presentation constant whose exact cross-engine float
    form isn't worth the determinism cost; the identity obs = trend
    + seasonal + residual holds either way), and the residual the
    remainder — the diagnostic that says WHICH structure (trend /
    weekly cycle / noise) carries the variance before a forecasting
    model is chosen (the step between `acf_daily`'s correlogram and
    the `holt_*` smoothers).

    Cross-engine exactness: the daily series is exact integer cents;
    the centered MA is an exact integer window sum (guarded to FULL
    `period`-day windows, so calendar gaps truncate the output
    instead of silently averaging fewer days); the detrended series
    is kept as the exact integer `period·x_t − Σwindow` (scaled by
    `period` — no division yet), day-of-week comes from epoch-day
    arithmetic, NOT dayofweek() (Spark counts Sunday=1, DuckDB
    Sunday=0); and each output component is ONE fixed-form double
    division from exact integers, rounded in-query.

    Scale shape: one map-side-combined aggregate collapses the raw
    stream to |types × days| rows; the MA is a partitioned
    range-window over that tiny frame, the seasonal means are a
    |types × 7| broadcast join-back. Nothing corpus-sized moves."""
    half = period // 2
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = (events
             .groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.sum(cents).cast("bigint").alias("v")))
    # epoch days anchored on a Monday => dow 0 = Monday in both engines
    d2 = daily.withColumn(
        "day_i", F.datediff(F.col("day"), F.lit("1970-01-05").cast("date")))
    w = (Window.partitionBy("event_type").orderBy("day_i")
         .rangeBetween(-half, half))
    d4 = cut(d2.withColumn("sum_w", F.sum("v").over(w))
             .withColumn("n_w", F.count("v").over(w))
             .where(F.col("n_w") == period)
             .withColumn("ds", F.lit(period) * F.col("v") - F.col("sum_w"))
             .withColumn("dow", F.col("day_i") % period))
    seas = (d4.groupBy("event_type", "dow")
            .agg(F.sum("ds").alias("s_ds"),
                 F.count(F.lit(1)).alias("n_dow")))
    scale = float(period * 100)
    return (d4.join(F.broadcast(seas), ["event_type", "dow"])
            .select(
                "event_type",
                F.date_format("day", "yyyy-MM-dd").alias("day"),
                F.round(F.col("v").cast("double") / 100.0, 2).alias("obs"),
                F.round(F.col("sum_w").cast("double") / scale, 4)
                .alias("trend"),
                (F.round(F.col("s_ds").cast("double")
                         / (F.lit(scale) * F.col("n_dow")), 4)
                 + F.lit(0.0)).alias("seasonal"),
                (F.round(F.col("ds").cast("double") / scale
                         - F.col("s_ds").cast("double")
                         / (F.lit(scale) * F.col("n_dow")), 4)
                 + F.lit(0.0)).alias("residual")))


#: Activity-bitmap window: one 64-bit word = 9 weeks of daily flags
#: (offsets past 62 are dropped, not wrapped). At a longer horizon
#: the same shape extends to an array of words per user — the word
#: index joins like the week frame here.
BITMAP_DAYS = 63


def bitmap_retention(events: DataFrame) -> DataFrame:
    """Week-over-week user retention computed on PACKED ACTIVITY
    BITMAPS — the roaring-bitmap/bit-index idiom warehouses use for
    cohort math: each user's daily activity collapses to ONE BIGINT
    (bit d = active on corpus-day d) in a single bit_or aggregate,
    and every retention question afterwards is bitwise arithmetic on
    the |users|-row bitmap frame — the raw event stream is scanned
    exactly once, and re-asking with different week framings never
    rescans it.

    Per week w: n_active = users with any bit in days [7w, 7w+6];
    n_retained_next = users also active in week w+1; retention_pct.
    All decisions are integer bit tests ((bitmap & mask) != 0) on
    exact bit_or-merged words — engine- and order-independent by
    construction (OR is commutative); the only float is the final
    rounded percentage.

    Shape: one groupBy(user) bit_or over the stream, a broadcast
    ~9-row week-mask frame fanned across the bitmap frame, one
    summary aggregate. Days past bit 62 are DROPPED (windowed
    analysis, documented), never wrapped."""
    mn = events.agg(F.min(F.to_date("ts")).alias("d0"))
    bm = (events.crossJoin(F.broadcast(mn))
          .select("user_id",
                  F.datediff(F.to_date("ts"), F.col("d0")).alias("off"))
          .where(F.col("off") < BITMAP_DAYS)
          .select("user_id",
                  F.expr("shiftleft(CAST(1 AS BIGINT), off)").alias("b"))
          .groupBy("user_id")
          .agg(F.expr("bit_or(b)").alias("bitmap")))
    n_weeks = BITMAP_DAYS // 7  # weeks with a full successor window
    spark = events.sparkSession
    weeks = spark.createDataFrame([(w,) for w in range(n_weeks - 1)],
                                  "week int")
    mask = F.expr("shiftleft(CAST(127 AS BIGINT), week * 7)")
    nxt = F.expr("shiftleft(CAST(127 AS BIGINT), week * 7 + 7)")
    flags = (bm.crossJoin(F.broadcast(weeks))
             .select("week",
                     (F.col("bitmap").bitwiseAND(mask) != 0)
                     .cast("int").alias("a"),
                     ((F.col("bitmap").bitwiseAND(mask) != 0)
                      & (F.col("bitmap").bitwiseAND(nxt) != 0))
                     .cast("int").alias("r")))
    out = (flags.groupBy("week")
           .agg(F.sum("a").cast("bigint").alias("n_active"),
                F.sum("r").cast("bigint").alias("n_retained_next")))
    return (out.where(F.col("n_active") > 0)
            .select(F.col("week").cast("bigint").alias("week"),
                    "n_active", "n_retained_next",
                    (F.round(F.col("n_retained_next") * 100.0
                             / F.col("n_active"), 4) + F.lit(0.0))
                    .alias("retention_pct")))


#: Quantiles reported by `conversion_lag_quantiles` as exact integer
#: fractions (the hdr_quantiles convention).
LAG_QUANTILES = ((1, 4, "p25"), (1, 2, "p50"),
                 (3, 4, "p75"), (9, 10, "p90"))


def conversion_lag_quantiles(events: DataFrame) -> DataFrame:
    """Time-to-convert distribution: exact quantiles of the whole-day
    lag between each user's FIRST signup and FIRST subsequent
    purchase — the converted-cohort companion to `kaplan_meier`
    (which handles the right-censored complement): product asks
    "how long does conversion take for those who do convert", and
    the answer must be an order statistic, not a mean skewed by the
    tail.

    Exactness: per-user first-event times are exact microsecond
    minimums; lags bucket to whole days by floor (Spark double→int
    casts truncate, DuckDB's round — the kaplan_meier rule); the lag
    domain is bounded (corpus horizon in days), so quantiles come
    from the lag histogram's cumulative counts via the broadcast
    triangular join with integer ceil(q·n) rank thresholds — the
    hdr_quantiles selection, exact here because the histogram is the
    full distribution. Output: (q_label, n_converted, lag_days)."""
    spark = events.sparkSession
    us = F.expr("unix_micros(ts)")
    fs = (events.where(F.col("event_type") == "signup")
          .groupBy("user_id").agg(F.min(us).alias("s_us")))
    fp = (events.where(F.col("event_type") == "purchase")
          .groupBy("user_id").agg(F.min(us).alias("p_us")))
    lag = (fs.join(fp, "user_id")
           .where(F.col("p_us") >= F.col("s_us"))
           .select(F.expr("CAST(floor((p_us - s_us) / 86400000000.0) "
                          "AS BIGINT)").alias("d")))
    hist = lag.groupBy("d").agg(F.count(F.lit(1)).alias("c"))
    rhs = hist.select(F.col("d").alias("d2"), F.col("c").alias("c2"))
    cum = (hist.join(F.broadcast(rhs), F.col("d2") <= F.col("d"))
           .groupBy("d").agg(F.sum("c2").alias("cum")))
    tot = lag.agg(F.count(F.lit(1)).alias("n"))
    qf = spark.createDataFrame(list(LAG_QUANTILES),
                               "qn long, qd long, q_label string")
    th = (tot.crossJoin(F.broadcast(qf))
          .select("q_label", "n",
                  F.expr("(qn * n + qd - 1) DIV qd").alias("r")))
    return (cum.crossJoin(F.broadcast(th))
            .where(F.col("cum") >= F.col("r"))
            .groupBy("q_label", "n")
            .agg(F.min("d").alias("lag_days"))
            .select("q_label", F.col("n").cast("bigint")
                    .alias("n_converted"),
                    F.col("lag_days").cast("bigint").alias("lag_days")))


def burst_cost_exprs() -> dict:
    """Kleinberg burst-automaton cost terms as SQL expression TEXT
    over integer columns n (day count), total, t_days — shared
    verbatim with the DuckDB oracle (flesch_expr convention). Each
    day's Poisson negative-log-likelihood cost under the base rate
    λ0 = total/T and the burst rate λ1 = 2·total/T (the n! term is
    state-independent and cancels) is QUANTIZED TO BIGINT MICRONATS
    at the model frame — cost_q = round(λq·1e6) − n·round(ln λq·1e6)
    — so the Viterbi fold downstream is exact integer min-plus
    arithmetic (the naive_bayes_lang micronat playbook; exact to
    ~4e11 events/day before int64 cost sums saturate). The state
    0→1 transition costs round(ln(T+1)·1e6) micronats (γ = 1)."""
    lam0 = "(CAST(total AS DOUBLE) / t_days)"
    lam1 = "(CAST(2 * total AS DOUBLE) / t_days)"

    def mn(e: str) -> str:
        return f"CAST(round(({e}) * 1000000, 0) AS BIGINT)"

    return {"c0": f"({mn(lam0)} - n * {mn(f'ln{lam0}')})",
            "c1": f"({mn(lam1)} - n * {mn(f'ln{lam1}')})",
            "trans": mn("ln(CAST(t_days + 1 AS DOUBLE))")}


def burst_detect(events: DataFrame) -> DataFrame:
    """Kleinberg 2-state burst detection (Kleinberg, KDD 2002 — the
    canonical "is this spike a burst or noise" model behind trend
    detection) over each event_type's daily count series: a hidden
    automaton with base rate λ0 = mean daily count and burst rate
    λ1 = 2λ0, a one-off cost ln(T+1) to ENTER the burst state, and
    per-day Poisson emission costs; the minimum-cost state path is
    the burst labelling. Output per type: (event_type, n_days,
    n_burst_days, burst_path) with the full 0/1 path string.

    Determinism: emission/transition costs are quantized to BIGINT
    micronats ENGINE-side (`burst_cost_exprs`, shared text), so the
    Viterbi recursion is exact integer min-plus with fixed tie rules
    (prefer the state-0 predecessor on equal cost; prefer state 0 at
    the end) — the oracle replays the identical integer DP as a
    recursive CTE carrying both candidate path strings, and the
    pandas fold uses arbitrary-precision Python ints.

    Scale: the corpus collapses to |types|×|days| rows in one
    map-side-combined aggregate; the sequential Viterbi runs per
    type over that bounded frame in one Arrow batch per group
    (the kalman_daily shape); the path string is |days| chars."""
    import pandas as pd

    daily = (events.groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.count(F.lit(1)).alias("n")))
    stats = (daily.groupBy("event_type")
             .agg(F.sum("n").alias("total"),
                  F.count(F.lit(1)).alias("t_days")))
    w = Window.partitionBy("event_type").orderBy("day")
    ex = burst_cost_exprs()
    costs = (daily.join(F.broadcast(stats), "event_type")
             .withColumn("i", F.row_number().over(w))
             .select("event_type", "i", "t_days",
                     F.expr(ex["c0"]).alias("c0"),
                     F.expr(ex["c1"]).alias("c1"),
                     F.expr(ex["trans"]).alias("trans")))

    schema = ("event_type string, n_days bigint, n_burst_days bigint, "
              "burst_path string")

    def _viterbi(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("i").reset_index(drop=True)
        c0 = [int(v) for v in pdf.c0]
        c1 = [int(v) for v in pdf.c1]
        trans = int(pdf.trans.iloc[0])
        d0, d1 = c0[0], trans + c1[0]
        p0, p1 = "0", "1"
        for t in range(1, len(c0)):
            nd0 = min(d0, d1) + c0[t]
            np0 = (p0 if d0 <= d1 else p1) + "0"
            nd1 = min(d1, d0 + trans) + c1[t]
            np1 = (p0 if d0 + trans <= d1 else p1) + "1"
            d0, d1, p0, p1 = nd0, nd1, np0, np1
        path = p0 if d0 <= d1 else p1
        return pd.DataFrame({
            "event_type": [pdf.event_type.iloc[0]],
            "n_days": [len(c0)],
            "n_burst_days": [path.count("1")],
            "burst_path": [path],
        })

    return costs.groupBy("event_type").applyInPandas(_viterbi, schema)


def rolling_median_daily(events: DataFrame, half: int = 3) -> DataFrame:
    """Centered rolling 7-day MEDIAN of each event_type's daily
    revenue — the robust trend `seasonal_decompose`'s moving AVERAGE
    is not (one bad ingest day drags a mean for a week; the median
    shrugs it off), computed EXACTLY: the median of 7 integer-cent
    values is the 4th smallest under the total (value, contributor
    day) order — an integer rank selection, no percentile floats.

    Shape: the corpus collapses to the |types × days| daily frame
    once; windows materialize as a keyed band self-join on that
    bounded frame (|window| rows per center day); selection is a
    (type, center-day)-partitioned rank window. Edge days (window
    not full) are dropped, matching seasonal_decompose's guard."""
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = cut(events
                .groupBy("event_type", F.to_date("ts").alias("day"))
                .agg(F.sum(cents).cast("bigint").alias("v"))
                .withColumn("day_i", F.datediff(
                    F.col("day"), F.lit("1970-01-05").cast("date"))))
    rhs = daily.select(F.col("event_type").alias("t2"),
                       F.col("day_i").alias("j"),
                       F.col("v").alias("vj"))
    win = (daily.join(rhs, (F.col("t2") == F.col("event_type"))
                      & (F.col("j") >= F.col("day_i") - half)
                      & (F.col("j") <= F.col("day_i") + half)))
    full = (win.withColumn(
        "n_w", F.count(F.lit(1)).over(
            Window.partitionBy("event_type", "day_i")))
        .where(F.col("n_w") == 2 * half + 1))
    ranked = full.withColumn(
        "rn", F.row_number().over(
            Window.partitionBy("event_type", "day_i")
            .orderBy("vj", "j")))
    return (ranked.where(F.col("rn") == half + 1)
            .select("event_type",
                    F.date_format("day", "yyyy-MM-dd").alias("day"),
                    F.round(F.col("v").cast("double") / 100.0, 2)
                    .alias("obs"),
                    F.round(F.col("vj").cast("double") / 100.0, 2)
                    .alias("rolling_median")))


#: SAX alphabet-4 Gaussian breakpoints (Lin/Keogh 2003, table for
#: a=4) as literal SQL doubles.
SAX_BREAKS = ("-0.6745", "0.0", "0.6745")
#: Days per PAA segment.
SAX_SEG_DAYS = 5


def sax_z_expr() -> str:
    """The z-normalized PAA segment value as SQL text over exact
    integer columns seg_sum, seg_len, sv (Σ cents), svv (Σ cents²),
    n (days) — shared verbatim with the oracle. Averaging commutes
    with the affine z-transform, so PAA over raw cents then one
    fixed-form (mean, std) normalization equals the textbook
    normalize-then-average — with every sum exact."""
    mean = "(CAST(sv AS DOUBLE) / n)"
    return (f"((CAST(seg_sum AS DOUBLE) / seg_len - {mean}) "
            f"/ sqrt(CAST(svv AS DOUBLE) / n - {mean} * {mean}))")


def sax_daily(events: DataFrame,
              seg_days: int = SAX_SEG_DAYS) -> DataFrame:
    """SAX symbolic representation (Lin, Keogh et al., DMKD 2003 —
    the discretization behind classic time-series indexing/motif
    mining) of each event_type's daily-revenue series: z-normalize,
    PAA-average into `seg_days`-day segments, map to a 4-letter
    alphabet at the Gaussian quartile breakpoints, emit the SAX word
    per type — the compact fingerprint that lets a 100 TB archive
    answer "which series look like this one" with string equality
    instead of numeric scans.

    Exactness: segment sums and the (Σv, Σv², n) moments are exact
    integer cents (decimal(38) squares); each segment's z value is
    ONE fixed-form expression (`sax_z_expr`, shared text — sqrt is
    correctly rounded, hence portable); breakpoints are literal
    doubles; word assembly is an order-keyed string aggregation.

    Shape: |types × days| daily frame → |types × segments| — nothing
    corpus-sized after the first aggregate."""
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = (events
             .groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.sum(cents).cast("bigint").alias("v")))
    w = Window.partitionBy("event_type").orderBy("day")
    idx = daily.withColumn("i", F.row_number().over(w))
    segs = (idx.groupBy("event_type",
                        F.expr(f"(i - 1) DIV {seg_days}").alias("k"))
            .agg(F.sum("v").alias("seg_sum"),
                 F.count(F.lit(1)).alias("seg_len")))
    mom = (daily.groupBy("event_type")
           .agg(F.sum("v").alias("sv"),
                F.sum(F.expr("CAST(v AS decimal(38,0)) * v"))
                .alias("svv"),
                F.count(F.lit(1)).alias("n")))
    b1, b2, b3 = SAX_BREAKS
    sym = (f"CASE WHEN ({sax_z_expr()}) < CAST({b1} AS DOUBLE) THEN 'a' "
           f"WHEN ({sax_z_expr()}) < CAST({b2} AS DOUBLE) THEN 'b' "
           f"WHEN ({sax_z_expr()}) < CAST({b3} AS DOUBLE) THEN 'c' "
           f"ELSE 'd' END")
    lettered = (segs.join(F.broadcast(mom), "event_type")
                .select("event_type", "k", F.expr(sym).alias("sym")))
    return (lettered.groupBy("event_type")
            .agg(F.expr("array_join(transform("
                        "array_sort(collect_list(struct(k, sym))), "
                        "x -> x.sym), '')").alias("sax_word"),
                 F.count(F.lit(1)).cast("bigint").alias("n_segments")))


def dtw_daily_pairs(events: DataFrame) -> DataFrame:
    """Dynamic-time-warping distance (Sakoe & Chiba 1978; the
    time-series similarity that tolerates phase shift, where
    Euclidean/SAX demand alignment) between every PAIR of event
    types' daily-revenue series: cell cost |a_i − b_j| in exact
    integer cents, full DP table, distance = D[n1][n2].

    Exactness: the whole DP is integer min-plus — bit-identical
    anywhere. The oracle replays it as ONE recursive CTE walking the
    DP table in row-major order (a single chain of n1·n2 steps,
    state = the DP prefix list; predecessors up/left/diag are list
    lookups), all pairs advancing in lockstep; the Spark side runs
    the identical fold per pair group in one Arrow batch
    (kalman/burst shape) with arbitrary-precision Python ints.

    Scale: the corpus collapses to the |types × days| frame in one
    map-side-combined aggregate; DP work is |days|² per pair —
    bounded by the calendar window, independent of corpus size —
    and pairs parallelize across executors. Output is |types choose
    2| rows."""
    import pandas as pd

    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = (events
             .groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.sum(cents).cast("bigint").alias("v"))
             # cut: `cut` raises dtw_daily_pairs 6/6 → 10/10 jobs (sf0.01)
             .localCheckpoint(eager=False))
    types = daily.select("event_type").distinct()
    pairs = (types.select(F.col("event_type").alias("t1"))
             .join(types.select(F.col("event_type").alias("t2")),
                   F.col("t1") < F.col("t2")))
    a = (pairs.join(daily, F.col("event_type") == F.col("t1"))
         .select("t1", "t2", F.lit("a").alias("side"), "day", "v"))
    b = (pairs.join(daily, F.col("event_type") == F.col("t2"))
         .select("t1", "t2", F.lit("b").alias("side"), "day", "v"))
    both = a.unionByName(b)

    schema = "t1 string, t2 string, n1 bigint, n2 bigint, dtw_cents bigint"

    def _dtw(pdf: pd.DataFrame) -> pd.DataFrame:
        va = [int(v) for v in
              pdf[pdf.side == "a"].sort_values("day").v]
        vb = [int(v) for v in
              pdf[pdf.side == "b"].sort_values("day").v]
        n1, n2 = len(va), len(vb)
        dp: list[int] = []
        for idx in range(1, n1 * n2 + 1):
            i = (idx - 1) // n2 + 1
            j = (idx - 1) % n2 + 1
            c = abs(va[i - 1] - vb[j - 1])
            if i == 1 and j == 1:
                pred = 0
            elif i == 1:
                pred = dp[idx - 1 - 1]
            elif j == 1:
                pred = dp[idx - n2 - 1]
            else:
                pred = min(dp[idx - n2 - 1], dp[idx - 1 - 1],
                           dp[idx - n2 - 1 - 1])
            dp.append(c + pred)
        return pd.DataFrame({
            "t1": [pdf.t1.iloc[0]], "t2": [pdf.t2.iloc[0]],
            "n1": [n1], "n2": [n2], "dtw_cents": [dp[-1]],
        })

    return both.groupBy("t1", "t2").applyInPandas(_dtw, schema)


def ltv_cohort_curves(events: DataFrame) -> DataFrame:
    """Cumulative lifetime-value curves by signup-week cohort — the
    revenue companion to `retention_cohorts`: for each cohort (a
    user's first-event week) and age (weeks since), the cohort's
    cumulative revenue and revenue-per-user — the curve a growth
    team reads payback periods off.

    Exactness: cohorts/ages are integer epoch-weeks (Monday-anchored
    epoch-day DIV 7 — engine-neutral, the seasonal_decompose rule);
    revenue is exact integer cents; the cumulative is a keyed
    triangular join over the bounded |cohorts × ages| frame; the two
    output ratios are fixed-form rounded divisions.

    Shape: one per-user min aggregate, one join-back keyed on user,
    one (cohort, age) aggregate — then everything is frame-sized."""
    wk = ("CAST(datediff(to_date(ts), DATE '1970-01-05') DIV 7 "
          "AS BIGINT)")
    fu = (events.groupBy("user_id")
          .agg(F.min(F.expr(wk)).alias("cohort_wk")))
    sizes = fu.groupBy("cohort_wk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"))
    cents = F.round(F.col("value") * 100).cast("bigint")
    wk_rev = cut(events.select("user_id", F.expr(wk).alias("wk"),
                               cents.alias("c"))
                 .join(fu, "user_id")
                 .groupBy("cohort_wk",
                          (F.col("wk") - F.col("cohort_wk")).alias("age"))
                 .agg(F.sum("c").alias("rev")))
    rhs = wk_rev.select(F.col("cohort_wk").alias("cw2"),
                        F.col("age").alias("age2"),
                        F.col("rev").alias("rev2"))
    cum = (wk_rev.join(F.broadcast(rhs),
                       (F.col("cw2") == F.col("cohort_wk"))
                       & (F.col("age2") <= F.col("age")))
           .groupBy("cohort_wk", "age")
           .agg(F.sum("rev2").alias("cum_cents")))
    return (cum.join(F.broadcast(sizes), "cohort_wk")
            .select(F.col("cohort_wk").cast("bigint").alias("cohort_week"),
                    F.col("age").cast("bigint").alias("age_weeks"),
                    "n_users",
                    F.round(F.col("cum_cents").cast("double") / 100.0, 2)
                    .alias("cum_revenue"),
                    F.round(F.col("cum_cents").cast("double")
                            / (F.lit(100.0) * F.col("n_users")), 4)
                    .alias("revenue_per_user")))


def theil_sen_trend(events: DataFrame) -> DataFrame:
    """Theil-Sen robust trend of each event_type's daily revenue —
    the median of all pairwise slopes (Theil 1950; Sen 1968): up to
    29.3% contaminated days cannot move it, where `linear_trend`'s
    OLS slope chases every outlier.

    Slopes are exact rationals (cent difference / integer day gap);
    the median picks the middle slope under the total order
    (slope double, i, j) via a type-partitioned rank window — the
    double is a deterministic single division of exact integers, so
    ordering is engine-stable, and the (i, j) tiebreak pins equal
    slopes. Output reports the median slope in dollars/day (6dp)
    with its exact rational (num cents, den days) alongside.

    Scale: the corpus collapses to the |types × days| frame; the
    pairwise slope frame is |days|²/2 per type — bounded by the
    CALENDAR window, independent of corpus size (documented: at a
    multi-year window, switch to the sampled/binary-search Theil-Sen
    variant before this frame crosses ~10^7 rows)."""
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = cut(events
                .groupBy("event_type", F.to_date("ts").alias("day"))
                .agg(F.sum(cents).cast("bigint").alias("v"))
                .withColumn("i", F.datediff(
                    F.col("day"), F.lit("1970-01-05").cast("date"))))
    rhs = daily.select(F.col("event_type").alias("t2"),
                       F.col("i").alias("j"), F.col("v").alias("vj"))
    slopes = (daily.join(rhs, (F.col("t2") == F.col("event_type"))
                         & (F.col("j") > F.col("i")))
              .select("event_type", "i", "j",
                      (F.col("vj") - F.col("v")).alias("num"),
                      (F.col("j") - F.col("i")).alias("den"))
              .withColumn("slope_d", F.col("num").cast("double")
                          / F.col("den").cast("double")))
    w = (Window.partitionBy("event_type")
         .orderBy("slope_d", "i", "j"))
    k = F.count(F.lit(1)).over(Window.partitionBy("event_type"))
    ranked = (slopes.withColumn("rn", F.row_number().over(w))
              .withColumn("n_pairs", k))
    return (ranked.where(F.col("rn")
                     == F.expr("(n_pairs + 1) DIV 2"))
            .select("event_type",
                    F.col("n_pairs").cast("bigint").alias("n_pairs"),
                    F.col("num").cast("bigint").alias("slope_num_cents"),
                    F.col("den").cast("bigint").alias("slope_den_days"),
                    (F.round(F.col("num").cast("double")
                             / (F.col("den") * 100.0), 6) + F.lit(0.0))
                    .alias("slope_dollars_per_day")))


def mad_daily(events: DataFrame) -> DataFrame:
    """Median absolute deviation of each event_type's daily revenue
    — the robust scale estimate that pairs with `theil_sen_trend`'s
    robust slope (and calibrates `anomaly_zscore` thresholds without
    the variance being poisoned by the outliers it hunts).

    Both medians are exact order statistics: middle element (lower
    median) of the daily cent values, then of the absolute
    deviations from it, each selected by a type-partitioned rank
    window under a (value, day) total order. Output per type:
    n_days, median dollars, MAD dollars (2dp fixed divisions)."""
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = cut(events
                .groupBy("event_type", F.to_date("ts").alias("day"))
                .agg(F.sum(cents).cast("bigint").alias("v")))
    w1 = Window.partitionBy("event_type").orderBy("v", "day")
    n = F.count(F.lit(1)).over(Window.partitionBy("event_type"))
    med = (daily.withColumn("rn", F.row_number().over(w1))
           .withColumn("n_days", n)
           .where(F.col("rn") == F.expr("(n_days + 1) DIV 2"))
           .select("event_type", F.col("v").alias("med"),
                   F.col("n_days")))
    dev = (daily.join(F.broadcast(med), "event_type")
           .select("event_type", "day", "n_days", "med",
                   F.abs(F.col("v") - F.col("med")).alias("ad")))
    w2 = Window.partitionBy("event_type").orderBy("ad", "day")
    return (dev.withColumn("rn", F.row_number().over(w2))
            .where(F.col("rn") == F.expr("(n_days + 1) DIV 2"))
            .select("event_type",
                    F.col("n_days").cast("bigint").alias("n_days"),
                    F.round(F.col("med").cast("double") / 100.0, 2)
                    .alias("median_revenue"),
                    F.round(F.col("ad").cast("double") / 100.0, 2)
                    .alias("mad_revenue")))


def robust_anomaly_days(events: DataFrame,
                        z10: int = 20) -> DataFrame:
    """Days whose revenue is anomalous under the MODIFIED z-score
    (Iglewicz & Hoaglin 1993): |v − median| > z₀ · MAD / 0.6745 —
    the robust cousin of `anomaly_zscore`, immune to the masking
    problem (a big outlier inflates the stddev and hides itself;
    median/MAD don't move). Flags per event type.

    Exactness: median and MAD are `mad_daily`'s exact lower-median
    order statistics in integer cents; the threshold comparison is
    integer cross-multiplication — |v − med| · 6745 · 10 >
    z₀·10 · 10000 · MAD — so flagging is exact integer arithmetic,
    no float threshold anywhere. The registry runs the sensitive
    monitoring setting z₀ = 2.0 (Iglewicz-Hoaglin's 3.5 is the
    reject-as-outlier bar; a drift MONITOR pages earlier); the
    planted-outlier test runs the classic 3.5. Output: the flagged
    days with their modified z (one rounded fixed-form division
    for display)."""
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = (events
             .groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.sum(cents).cast("bigint").alias("v"))
             # cut: `cut` raises robust_anomaly_days 7/7 → 8/8 jobs (sf0.01)
             .localCheckpoint(eager=False))
    w1 = Window.partitionBy("event_type").orderBy("v", "day")
    n = F.count(F.lit(1)).over(Window.partitionBy("event_type"))
    med = (daily.withColumn("rn", F.row_number().over(w1))
           .withColumn("n_days", n)
           .where(F.col("rn") == F.expr("(n_days + 1) DIV 2"))
           .select("event_type", F.col("v").alias("med")))
    dev = (daily.join(F.broadcast(med), "event_type")
           .withColumn("ad", F.abs(F.col("v") - F.col("med"))))
    w2 = Window.partitionBy("event_type").orderBy("ad", "day")
    n2 = F.count(F.lit(1)).over(Window.partitionBy("event_type"))
    mad = (dev.withColumn("rn", F.row_number().over(w2))
           .withColumn("n_days", n2)
           .where(F.col("rn") == F.expr("(n_days + 1) DIV 2"))
           .select("event_type", F.col("ad").alias("mad")))
    flagged = (dev.join(F.broadcast(mad), "event_type")
               .where(F.expr(f"ad * 6745 * 10 > {z10} * 10000 * mad")))
    return flagged.select(
        "event_type", F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round(F.col("v").cast("double") / 100.0, 2).alias("revenue"),
        (F.round(F.expr("CAST(0.6745 AS DOUBLE) * ad / mad"), 4)
         + F.lit(0.0)).alias("modified_z"))


#: Hazard-increment quantization: d/n in 1e-8 units via integer DIV.
NA_SCALE = 100_000_000


def nelson_aalen_hazard(events: DataFrame) -> DataFrame:
    """Nelson-Aalen cumulative hazard H(t) = Σ_{u<=t} d_u / n_u for
    time-to-first-purchase after first signup, right-censored at the
    corpus horizon (Nelson 1972; Aalen 1978) — the cumulative-RISK
    companion to `kaplan_meier`'s survival curve, and the estimator
    of choice when hazards are the quantity being modelled (H is
    additive across intervals where S is multiplicative).

    Exactness: the cohort machinery is kaplan_meier's, shared
    through `_survival_risk` (exact integer microseconds, floor day
    buckets, triangular risk sets over the bounded day frame) — but where KM's product needs
    a sequential fold (applyInPandas + recursive-CTE oracle), the NA
    SUM quantizes each increment to BIGINT 1e-8 units via integer
    division ((d * 1e8) DIV n — engine-identical floor), so the
    cumulative is an exact integer triangular sum, order-free and
    fully SQL-expressible on both engines. One final fixed-form
    division reports H at 8dp.

    Scale: keyed per-user aggregates collapse the corpus; everything
    after is the bounded |days| frame and broadcast triangular
    joins. No window, no recursion, no Python."""
    risk = cut(_survival_risk(events)
               .withColumn("hq", F.expr(f"(d * {NA_SCALE}) DIV n_risk")))
    prev = risk.select(F.col("t").alias("t3"), F.col("hq").alias("hq3"))
    return (risk.join(F.broadcast(prev), F.col("t3") <= F.col("t"))
            .groupBy("t", "d", "n_risk")
            .agg(F.sum("hq3").cast("bigint").alias("cum_q"))
            .select(F.col("t").cast("bigint").alias("t"), "n_risk",
                    F.col("d").alias("n_events"),
                    (F.round(F.col("cum_q").cast("double")
                             / F.lit(float(NA_SCALE)), 8) + F.lit(0.0))
                    .alias("cum_hazard")))


#: Attribution channels (the non-conversion event types) and rounds.
ATTR_CHANNELS = ("click", "error", "signup", "view")
ATTR_ROUNDS = 12


def removal_round_exprs() -> "list[tuple[str, str]]":
    """(column, SQL) pairs for ONE absorbing-chain evaluation round,
    in pinned term order, shared verbatim with the DuckDB oracle:
    the full chain's values v_full_<t> plus, per removed channel c,
    v_rm_<c>_<t> with channel c's value pinned to 0.0 (removal =
    every path through c is lost to the null absorber)."""
    out: list[tuple[str, str]] = []
    for t in ATTR_CHANNELS:
        terms = " + ".join(f"(v_full_{u} * p_{t}_{u})"
                           for u in ATTR_CHANNELS)
        out.append((f"v_full_{t}", f"(p_{t}_conv + {terms})"))
    for c in ATTR_CHANNELS:
        for t in ATTR_CHANNELS:
            if t == c:
                out.append((f"v_rm_{c}_{t}", "CAST(0.0 AS DOUBLE)"))
                continue
            terms = " + ".join(f"(v_rm_{c}_{u} * p_{t}_{u})"
                               for u in ATTR_CHANNELS if u != c)
            out.append((f"v_rm_{c}_{t}", f"(p_{t}_conv + {terms})"))
    return out


def removal_final_exprs() -> "dict[str, str]":
    """Start-state conversion probabilities (full + per-removal) as
    pinned SQL text over the last round's columns."""
    full_terms = " + ".join(f"(v_full_{u} * p_start_{u})"
                            for u in ATTR_CHANNELS)
    out = {"p_full": f"(p_start_conv + {full_terms})"}
    for c in ATTR_CHANNELS:
        terms = " + ".join(f"(v_rm_{c}_{u} * p_start_{u})"
                           for u in ATTR_CHANNELS if u != c)
        out[f"p_rm_{c}"] = f"(p_start_conv + {terms})"
    return out


def removal_effect_attribution(events: DataFrame) -> DataFrame:
    """Markov removal-effect channel attribution (Anderl et al. 2014
    — the data-driven successor to first/last/linear touch in
    `multitouch_attribution`): user journeys become an absorbing
    Markov chain (start → touch channels → conv on purchase / null
    at sequence end, journeys restarting after each purchase); a
    channel's credit is its REMOVAL EFFECT — the relative drop in
    start→conv probability when every path through that channel is
    redirected to the null absorber.

    Exact transition probabilities (count / row-total, one IEEE
    division each) pivot into ONE wide row via conditional
    aggregation; the five absorbing-chain evaluations (full + one
    per removed channel) unroll as ATTR_ROUNDS chained fixed-form
    rounds in pinned term order (`removal_round_exprs`, shared
    verbatim with the oracle — the markov_stationary playbook, so
    both engines compute the identical truncated fixpoint).

    Scale: one ordered-window pass over events (user-partitioned),
    one transition count aggregate — everything after lives on a
    1-row frame. Output: (channel, p_full, p_removed,
    removal_effect, attribution_share), 6dp."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    j = (F.coalesce(
        F.sum(F.when(F.col("event_type") == "purchase", 1)
              .otherwise(0))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0)))
    st = (F.when(F.col("event_type") == "purchase", F.lit("conv"))
          .otherwise(F.col("event_type")))
    base = events.select("user_id", "ts", "event_id",
                         st.alias("st"), j.alias("j"))
    wj = Window.partitionBy("user_id", "j").orderBy("ts", "event_id")
    seq = base.select(
        "st",
        F.row_number().over(wj).alias("rn"),
        F.lead("st").over(wj).alias("nxt"))
    starts = (seq.where(F.col("rn") == 1)
              .select(F.lit("start").alias("from_s"),
                      F.col("st").alias("to_s")))
    steps = (seq.where(F.col("st") != "conv")
             .select(F.col("st").alias("from_s"),
                     F.coalesce(F.col("nxt"), F.lit("null"))
                     .alias("to_s")))
    counts = (starts.unionByName(steps)
              .groupBy("from_s", "to_s")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    tot = counts.groupBy("from_s").agg(F.sum("n").alias("tot"))
    pr = counts.join(tot, "from_s").select(
        "from_s", "to_s", (F.col("n") / F.col("tot")).alias("p"))
    froms = ("start",) + ATTR_CHANNELS
    tos = ATTR_CHANNELS + ("conv",)
    wide = pr.groupBy().agg(*[
        F.coalesce(F.sum(F.when((F.col("from_s") == s)
                                & (F.col("to_s") == t), F.col("p"))),
                   F.lit(0.0)).alias(f"p_{s}_{t}")
        for s in froms for t in tos])
    p_cols = [f"p_{s}_{t}" for s in froms for t in tos]
    cur = wide.select(
        *p_cols,
        *[F.lit(0.0).alias(name) for name, _ in removal_round_exprs()])
    for r in range(ATTR_ROUNDS):
        nxt_cols = [F.expr(sql).alias(f"nx_{name}")
                    for name, sql in removal_round_exprs()]
        cur = cur.select("*", *nxt_cols)
        cur = cur.select(
            *p_cols,
            *[F.col(f"nx_{name}").alias(name)
              for name, _ in removal_round_exprs()])
        # lineage cut every 3 rounds (round-15): CollapseProject
        # inlines the chained round projections into one expression
        # whose term count multiplies per round — 12 uncut rounds
        # cost ~4.7 s of Catalyst time on a 1-row frame (profiled
        # driver gap, 5.9 s wall). The checkpoint is a 1-row cache;
        # arithmetic and round count are unchanged.
        if r % 3 == 2:
            cur = cut(cur)
    fin = removal_final_exprs()
    res = cur.select(*[F.expr(sql).alias(name)
                       for name, sql in fin.items()])
    rows = " , ".join(
        f"'{c}', p_full, p_rm_{c}, "
        f"((p_full - p_rm_{c}) / p_full)" for c in ATTR_CHANNELS)
    stacked = res.select(F.expr(
        f"stack({len(ATTR_CHANNELS)}, {rows}) "
        "as (channel, p_full, p_removed, re)"))
    tot_re = " + ".join(f"((p_full - p_rm_{c}) / p_full)"
                        for c in ATTR_CHANNELS)
    total = res.select(F.expr(f"({tot_re})").alias("re_total"))
    return (stacked.crossJoin(F.broadcast(total))
            .select("channel",
                    (F.round("p_full", 6) + F.lit(0.0)).alias("p_full"),
                    (F.round("p_removed", 6) + F.lit(0.0))
                    .alias("p_removed"),
                    (F.round("re", 6) + F.lit(0.0))
                    .alias("removal_effect"),
                    (F.round(F.expr("re / re_total"), 6) + F.lit(0.0))
                    .alias("attribution_share")))


def growth_accounting(events: DataFrame) -> DataFrame:
    """Weekly growth accounting (the new/retained/resurrected/churned
    MAU decomposition every growth team reports — the "growth
    accounting identity" popularized by Social Capital): per
    Monday-anchored epoch week, active users split EXACTLY into
    new (first-ever week), retained (active the previous week) and
    resurrected (returning after a gap ≥ 2 weeks), plus the churn
    from the previous week via the identity
    churned(w) = active(w−1) − retained(w).

    Exactness: all counts are exact integers over the distinct
    (user, week) frame; week ids are epoch-day DIV 7 on the Monday
    anchor (the ltv_cohort_curves rule); classification is one lag()
    per user — no floats anywhere.

    Scale: corpus → distinct (user, week) (one map-side-combined
    aggregate) → user-partitioned lag window → |weeks| frame; the
    churn join-back is a broadcast of that bounded frame."""
    wk = F.expr("CAST(datediff(to_date(ts), DATE '1970-01-05') DIV 7 "
                "AS BIGINT)")
    uw = cut(events.select("user_id", wk.alias("wk")).distinct())
    w = Window.partitionBy("user_id").orderBy("wk")
    lab = (uw.withColumn("prev", F.lag("wk").over(w))
           .select("wk",
                   F.when(F.col("prev").isNull(), 1).otherwise(0)
                   .alias("is_new"),
                   F.when(F.col("prev") == F.col("wk") - 1, 1)
                   .otherwise(0).alias("is_ret"),
                   F.when(F.col("prev") <= F.col("wk") - 2, 1)
                   .otherwise(0).alias("is_res")))
    per = cut(lab.groupBy("wk")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_active"),
                   F.sum("is_new").cast("bigint").alias("n_new"),
                   F.sum("is_ret").cast("bigint").alias("n_retained"),
                   F.sum("is_res").cast("bigint").alias("n_resurrected")))
    prev = per.select((F.col("wk") + 1).alias("wk"),
                      F.col("n_active").alias("prev_active"))
    return (per.join(F.broadcast(prev), "wk", "left")
            .select(F.col("wk").alias("week"),
                    "n_active", "n_new", "n_retained", "n_resurrected",
                    F.coalesce(F.col("prev_active") - F.col("n_retained"),
                               F.lit(0)).cast("bigint")
                    .alias("n_churned_from_prev")))


#: Strength quantization: components in 1e-2-cent units.
STRENGTH_SCALE = 10_000


def series_strengths(events: DataFrame, period: int = 7) -> DataFrame:
    """Trend / seasonality strength per event type (Hyndman &
    Athanasopoulos, FPP: F_T = max(0, 1 − Var(R)/Var(T+R)),
    F_S = max(0, 1 − Var(R)/Var(S+R))) over the same classical
    decomposition `seasonal_decompose` reports — the one-number-per-
    series summary that ranks thousands of series by "does this have
    structure worth modelling" without eyeballing decompositions.

    Exactness: the decomposition frame is exact integers
    (seasonal_decompose's machinery verbatim: integer-cent daily
    sums, full-window centered MA, detrended kept as period-scaled
    integers); each per-day component (residual, detrended = S+R,
    deseasonalized = T+R) quantizes to ONE BIGINT in 1e-2-cent units
    via a fixed-form round (round() halves away from zero on doubles
    in both engines — never DIV, whose negative truncation
    disagrees), so the variances are exact decimal(38) moment sums
    and each strength is one fixed-form expression, 4dp.

    Scale: identical to seasonal_decompose — |types×days| frames,
    broadcast |types×7| seasonal means, one moment aggregate."""
    half = period // 2
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = (events
             .groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.sum(cents).cast("bigint").alias("v")))
    d2 = daily.withColumn(
        "day_i", F.datediff(F.col("day"), F.lit("1970-01-05").cast("date")))
    w = (Window.partitionBy("event_type").orderBy("day_i")
         .rangeBetween(-half, half))
    d4 = cut(d2.withColumn("sum_w", F.sum("v").over(w))
             .withColumn("n_w", F.count("v").over(w))
             .where(F.col("n_w") == period)
             .withColumn("ds", F.lit(period) * F.col("v") - F.col("sum_w"))
             .withColumn("dow", F.col("day_i") % period))
    seas = (d4.groupBy("event_type", "dow")
            .agg(F.sum("ds").alias("s_ds"),
                 F.count(F.lit(1)).alias("n_dow")))
    # component quantization (1e-2-cent units): detrended S+R =
    # ds/P; residual R = ds/P − s_ds/(P·n_dow); deseasonalized
    # T+R = v − s_ds/(P·n_dow)  (all cents before scaling)
    det = f"round(CAST(ds AS DOUBLE) * {STRENGTH_SCALE / 100} " \
          f"/ {period}, 0)"
    sea = (f"(CAST(s_ds AS DOUBLE) * {STRENGTH_SCALE / 100} "
           f"/ ({period} * n_dow))")
    res = (f"round(CAST(ds AS DOUBLE) * {STRENGTH_SCALE / 100} "
           f"/ {period} - {sea}, 0)")
    tr = (f"round(CAST(v AS DOUBLE) * {STRENGTH_SCALE / 100} "
          f"- {sea}, 0)")
    d38 = "decimal(38,0)"
    q = (d4.join(F.broadcast(seas), ["event_type", "dow"])
         .select("event_type",
                 F.expr(f"CAST({det} AS BIGINT)").alias("dq"),
                 F.expr(f"CAST({res} AS BIGINT)").alias("rq"),
                 F.expr(f"CAST({tr} AS BIGINT)").alias("tq")))
    mom = (q.groupBy("event_type")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("rq").alias("sr"),
                F.sum(F.expr(f"CAST(rq AS {d38}) * rq")).alias("srr"),
                F.sum("dq").alias("sd"),
                F.sum(F.expr(f"CAST(dq AS {d38}) * dq")).alias("sdd"),
                F.sum("tq").alias("st"),
                F.sum(F.expr(f"CAST(tq AS {d38}) * tq")).alias("stt")))
    vr = "(CAST(n AS DOUBLE) * srr - CAST(sr AS DOUBLE) * sr)"
    vd = "(CAST(n AS DOUBLE) * sdd - CAST(sd AS DOUBLE) * sd)"
    vt = "(CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st)"
    # a zero-variance denominator means the component+residual series
    # is perfectly flat — no variation to explain, strength 0 (and
    # ANSI mode would otherwise throw on the division)
    f_t = f"CASE WHEN {vt} <= 0.0 THEN 0.0 " \
          f"ELSE greatest(0.0, 1.0 - {vr} / {vt}) END"
    f_s = f"CASE WHEN {vd} <= 0.0 THEN 0.0 " \
          f"ELSE greatest(0.0, 1.0 - {vr} / {vd}) END"
    return mom.select(
        "event_type", F.col("n").cast("bigint").alias("n_days"),
        (F.round(F.expr(f_t), 4) + F.lit(0.0)).alias("trend_strength"),
        (F.round(F.expr(f_s), 4) + F.lit(0.0))
        .alias("seasonal_strength"))


def mase_backtest(events: DataFrame, period: int = 7,
                  horizon: int = 7) -> DataFrame:
    """Seasonal-naive backtest with MASE (Hyndman & Koehler 2006 —
    the scale-free forecast-accuracy measure that made "beat the
    naive forecast" quantitative): hold out each event type's last
    `horizon` days, forecast each held-out day as the value one
    `period` earlier, and report MAE plus MASE = holdout MAE /
    in-sample seasonal-naive MAE. MASE < 1 means the candidate
    beats the naive baseline — the go/no-go gate to run ABOVE
    `holt_forecast` before trusting any smoother.

    Exactness: daily revenues are exact integer cents; errors are
    exact integer |differences| via ONE keyed self-join on
    (type, day − period) over the bounded daily frame; MASE is one
    exact-integer cross-multiplication ratio evaluated as a single
    fixed-form division (rounded 4dp), MAE one more. Calendar gaps
    drop the affected comparisons on both sides identically.

    Scale: corpus → |types × days| frame; one keyed self-join and
    one per-type aggregate after."""
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = cut(events
                .groupBy("event_type", F.to_date("ts").alias("day"))
                .agg(F.sum(cents).cast("bigint").alias("v"))
                .withColumn("day_i", F.datediff(
                    F.col("day"), F.lit("1970-01-05").cast("date"))))
    mx = daily.groupBy("event_type").agg(F.max("day_i").alias("mx"))
    lag = daily.select(F.col("event_type").alias("t2"),
                       (F.col("day_i") + period).alias("di2"),
                       F.col("v").alias("v_lag"))
    j = (daily.join(lag, (F.col("t2") == F.col("event_type"))
                    & (F.col("di2") == F.col("day_i")))
         .join(F.broadcast(mx), "event_type")
         .select("event_type",
                 (F.col("day_i") > F.col("mx") - horizon).cast("int")
                 .alias("is_hold"),
                 F.abs(F.col("v") - F.col("v_lag")).alias("ae")))
    agg = (j.groupBy("event_type")
           .agg(F.sum("is_hold").cast("bigint").alias("h_days"),
                F.sum(F.expr("ae * is_hold")).cast("bigint")
                .alias("se_h"),
                F.sum(F.expr("1 - is_hold")).cast("bigint")
                .alias("m_days"),
                F.sum(F.expr("ae * (1 - is_hold)")).cast("bigint")
                .alias("se_i")))
    mase = ("CASE WHEN se_i = 0 OR h_days = 0 THEN 0.0 "
            "ELSE (CAST(se_h AS DOUBLE) * m_days) "
            "/ (CAST(se_i AS DOUBLE) * h_days) END")
    mae = ("CASE WHEN h_days = 0 THEN 0.0 "
           "ELSE CAST(se_h AS DOUBLE) / h_days / 100.0 END")
    return agg.select(
        "event_type", "h_days", "m_days",
        (F.round(F.expr(mae), 4) + F.lit(0.0)).alias("mae_holdout"),
        (F.round(F.expr(mase), 4) + F.lit(0.0)).alias("mase"))


def steps_round_exprs() -> "list[tuple[str, str]]":
    """(column, SQL) pairs for one expected-steps evaluation round
    over the absorbing journey chain, pinned term order shared with
    the oracle: E[s] = 1 + Σ_u p(s→u)·E[u] over transient channels
    (absorbing conv/null contribute only the final step)."""
    out: list[tuple[str, str]] = []
    for t in ATTR_CHANNELS:
        terms = " + ".join(f"(v_st_{u} * p_{t}_{u})"
                           for u in ATTR_CHANNELS)
        out.append((f"v_st_{t}", f"(CAST(1.0 AS DOUBLE) + {terms})"))
    return out


def expected_steps_to_absorption(events: DataFrame) -> DataFrame:
    """Expected journey length (touches until conversion OR
    abandonment) from each chain state — the absorbing-chain
    fundamental-matrix readout (Kemeny & Snell 1960) evaluated by
    the same truncated fixed-form unrolling as
    `removal_effect_attribution` (identical transition frame,
    ATTR_ROUNDS rounds, pinned term order shared with the oracle):
    the "how long is a journey" companion to the removal effect's
    "which channel mattered".

    Output: one row per state ('start' + each channel) with its
    expected steps to absorption, 6dp. Scale: identical to
    removal_effect_attribution — one user-partitioned window pass,
    one count aggregate, then a 1-row frame."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    j = (F.coalesce(
        F.sum(F.when(F.col("event_type") == "purchase", 1)
              .otherwise(0))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0)))
    st = (F.when(F.col("event_type") == "purchase", F.lit("conv"))
          .otherwise(F.col("event_type")))
    base = events.select("user_id", "ts", "event_id",
                         st.alias("st"), j.alias("j"))
    wj = Window.partitionBy("user_id", "j").orderBy("ts", "event_id")
    seq = base.select(
        "st",
        F.row_number().over(wj).alias("rn"),
        F.lead("st").over(wj).alias("nxt"))
    starts = (seq.where(F.col("rn") == 1)
              .select(F.lit("start").alias("from_s"),
                      F.col("st").alias("to_s")))
    steps = (seq.where(F.col("st") != "conv")
             .select(F.col("st").alias("from_s"),
                     F.coalesce(F.col("nxt"), F.lit("null"))
                     .alias("to_s")))
    counts = (starts.unionByName(steps)
              .groupBy("from_s", "to_s")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    tot = counts.groupBy("from_s").agg(F.sum("n").alias("tot"))
    pr = counts.join(tot, "from_s").select(
        "from_s", "to_s", (F.col("n") / F.col("tot")).alias("p"))
    froms = ("start",) + ATTR_CHANNELS
    tos = ATTR_CHANNELS + ("conv",)
    wide = pr.groupBy().agg(*[
        F.coalesce(F.sum(F.when((F.col("from_s") == s)
                                & (F.col("to_s") == t), F.col("p"))),
                   F.lit(0.0)).alias(f"p_{s}_{t}")
        for s in froms for t in tos])
    p_cols = [f"p_{s}_{t}" for s in froms for t in tos]
    cur = wide.select(
        *p_cols,
        *[F.lit(0.0).alias(name) for name, _ in steps_round_exprs()])
    for r in range(ATTR_ROUNDS):
        nxt_cols = [F.expr(sql).alias(f"nx_{name}")
                    for name, sql in steps_round_exprs()]
        cur = cur.select("*", *nxt_cols)
        cur = cur.select(
            *p_cols,
            *[F.col(f"nx_{name}").alias(name)
              for name, _ in steps_round_exprs()])
        # lineage cut every 3 rounds — the removal_effect_attribution
        # CollapseProject fix (see there); 1-row frame, arithmetic
        # and round count unchanged
        if r % 3 == 2:
            cur = cut(cur)
    start_terms = " + ".join(f"(v_st_{u} * p_start_{u})"
                             for u in ATTR_CHANNELS)
    res = cur.select(
        F.expr(f"(CAST(1.0 AS DOUBLE) + {start_terms})")
        .alias("v_start"),
        *[F.col(f"v_st_{t}") for t in ATTR_CHANNELS])
    rows = " , ".join(
        ["'start', v_start"]
        + [f"'{c}', v_st_{c}" for c in ATTR_CHANNELS])
    return (res.select(F.expr(
        f"stack({1 + len(ATTR_CHANNELS)}, {rows}) "
        "as (state, raw)"))
        .select("state",
                (F.round("raw", 6) + F.lit(0.0))
                .alias("expected_steps")))


def max_drawdown_daily(events: DataFrame) -> DataFrame:
    """Maximum drawdown of each event_type's DAILY-REVENUE level —
    the peak-to-trough loss metric every ops/finance dashboard pairs
    with a level curve: how far below its best-ever day did the
    series fall, and between which two days? (The running total of a
    revenue stream is monotone, so the meaningful drawdown series is
    the daily LEVEL against its running peak — the "worst decline
    from the historical best day".)

    Exact integer arithmetic throughout: daily revenue in cents, the
    running peak is a BIGINT window max, drawdown = peak − level.
    Ties are pinned: the trough is the EARLIEST day achieving the
    maximal drawdown, the peak day the earliest day ≤ trough whose
    level equals that trough's running peak. A monotone-increasing
    series reports drawdown 0 on its first day (peak = trough).

    Scale: the corpus collapses to the |types × days| daily frame
    once (map-side combined); every window below partitions by
    event_type over that bounded frame; the argmax cuts are
    min(struct) aggregates against broadcast 5-row frames — no
    collects, no global windows. Output per type: (event_type,
    n_days, peak_day, trough_day, max_drawdown dollars 2dp,
    drawdown_pct of peak 6dp), days as yyyy-MM-dd strings (the
    cross-engine date convention)."""
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = cut(events
                .groupBy("event_type", F.to_date("ts").alias("day"))
                .agg(F.sum(cents).cast("bigint").alias("v")))
    w = Window.partitionBy("event_type").orderBy("day")
    d2 = cut(daily
             .withColumn("peak", F.max("v").over(
                 w.rowsBetween(Window.unboundedPreceding,
                               Window.currentRow)))
             .withColumn("dd", F.col("peak") - F.col("v")))
    per = d2.groupBy(F.col("event_type").alias("et")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.max("dd").alias("max_dd"))
    trough = (d2.join(F.broadcast(per),
                      (F.col("event_type") == F.col("et"))
                      & (F.col("dd") == F.col("max_dd")))
              .select("event_type", "n_days", "max_dd",
                      F.struct("day", "peak").alias("s"))
              .groupBy("event_type", "n_days", "max_dd")
              .agg(F.min("s").alias("s"))
              .select(F.col("event_type").alias("et2"),
                      "n_days", "max_dd",
                      F.col("s.day").alias("trough_day"),
                      F.col("s.peak").alias("p")))
    peak_day = (d2.select("event_type", "day", "v")
                .join(F.broadcast(trough),
                      F.col("event_type") == F.col("et2"))
                .where((F.col("day") <= F.col("trough_day"))
                       & (F.col("v") == F.col("p")))
                .groupBy("event_type", "n_days", "max_dd",
                         "trough_day", "p")
                .agg(F.min("day").alias("peak_day")))
    return peak_day.select(
        "event_type", "n_days",
        F.date_format("peak_day", "yyyy-MM-dd").alias("peak_day"),
        F.date_format("trough_day", "yyyy-MM-dd").alias("trough_day"),
        (F.round(F.col("max_dd") / 100.0, 2) + F.lit(0.0))
        .alias("max_drawdown"),
        (F.round(F.expr(
            "CASE WHEN p = 0 THEN CAST(NULL AS DOUBLE) "
            "ELSE CAST(max_dd AS DOUBLE) / p END"), 6)
         + F.lit(0.0)).alias("drawdown_pct"))


def hodges_lehmann_daily(events: DataFrame) -> DataFrame:
    """Hodges-Lehmann pseudomedian of each event_type's daily revenue
    (Hodges & Lehmann 1963) — the location estimator associated with
    the Wilcoxon signed-rank test, sitting between the mean
    (efficient, fragile) and the median (robust, inefficient): the
    median of all Walsh averages (vᵢ+vⱼ)/2 over day pairs i ≤ j.
    Breakdown 29%, efficiency 0.955 under normality — the right
    default location for contaminated ops series, and the natural
    companion to `theil_sen_trend` (slopes) and `mad_daily` (scale).

    Exact: daily cents are integers, so each DOUBLED Walsh average
    vᵢ+vⱼ is an integer; the lower median is rank-selected under the
    total order (sum, i, j) by a type-partitioned window — the one
    float is the final /200 display division (cents×2 → dollars).

    Scale: the corpus collapses to the |types × days| frame; the
    Walsh frame is |days|²/2 per type — bounded by the CALENDAR, not
    the corpus (same documented bound as theil_sen_trend: beyond a
    multi-year window, sample pairs or binary-search the value)."""
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = cut(events
                .groupBy("event_type", F.to_date("ts").alias("day"))
                .agg(F.sum(cents).cast("bigint").alias("v"))
                .withColumn("i", F.datediff(
                    F.col("day"), F.lit("1970-01-05").cast("date"))))
    rhs = daily.select(F.col("event_type").alias("t2"),
                       F.col("i").alias("j"), F.col("v").alias("vj"))
    walsh = (daily.join(rhs, (F.col("t2") == F.col("event_type"))
                        & (F.col("j") >= F.col("i")))
             .select("event_type", "i", "j",
                     (F.col("v") + F.col("vj")).alias("s")))
    ranked = walsh.withColumn(
        "rk", F.row_number().over(
            Window.partitionBy("event_type")
            .orderBy(F.col("s").asc(), F.col("i").asc(),
                     F.col("j").asc())))
    per = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"))
    pick = per.select(
        "event_type", "n_days",
        F.expr("n_days * (n_days + 1) DIV 2")
        .cast("bigint").alias("n_pairs"),
        F.expr("(n_days * (n_days + 1) DIV 2 + 1) DIV 2")
        .cast("bigint").alias("k"))
    return (ranked.join(F.broadcast(pick),
                        ["event_type"])
            .where(F.col("rk") == F.col("k"))
            .select("event_type", "n_days", "n_pairs",
                    (F.round(F.col("s") / 200.0, 6) + F.lit(0.0))
                    .alias("hl_dollars")))


def diebold_mariano_daily(events: DataFrame) -> DataFrame:
    """Diebold-Mariano equal-accuracy test (Diebold & Mariano 1995)
    between the two parameter-free one-step forecasters of each
    event_type's daily revenue: naive (yesterday's value) vs
    seasonal-naive (the value 7 positions back) — the statistical
    answer to "is the weekly pattern real enough to forecast with?",
    which `mase_backtest` scores but does not test.

    Loss differential d_t = e²_naive − e²_seasonal over the days
    where both lags exist (positional lags over the day-ordered
    series, the mase_backtest convention). DM = d̄ / √(γ₀/n) with
    γ₀ = (1/n)Σ(d−d̄)² (h=1, no autocovariance terms). Sums Σd and
    Σd² run in decimal(38) (cents² reach ~1e10 per day, their
    squares ~1e20 — past BIGINT); the statistic is a fixed-form
    double expression of the two exact sums, 6dp, with a sign
    verdict column (negative mean ⇒ naive's loss is smaller).

    Scale: |types × days| frame once, positional lags by
    type-partitioned window, one bounded aggregate — nothing
    downstream of the daily collapse touches corpus-sized data."""
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = cut(events
                .groupBy("event_type", F.to_date("ts").alias("day"))
                .agg(F.sum(cents).cast("bigint").alias("v")))
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = (daily
              .withColumn("l1", F.lag("v", 1).over(w))
              .withColumn("l7", F.lag("v", 7).over(w))
              .where(F.col("l7").isNotNull()))
    d38 = "decimal(38,0)"
    d = lagged.select(
        "event_type",
        (F.expr(f"CAST((v - l1) AS {d38}) * (v - l1)")
         - F.expr(f"CAST((v - l7) AS {d38}) * (v - l7)")).alias("dt"))
    agg = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("dt").cast(d38).alias("sd"),
        F.sum(F.expr(f"CAST(dt AS {d38}) * dt")).cast(d38)
        .alias("ssq"))
    mean_d = "CAST(sd AS DOUBLE) / n"
    var0 = f"(CAST(ssq AS DOUBLE) / n - ({mean_d}) * ({mean_d}))"
    # Zero-variance guard (round-13 advice): a constant loss
    # differential gives var0 = 0 and mean_d = 0, so the raw ratio is
    # NaN — and Spark (NaN < 0 false → 'tie') and DuckDB (NaN sorts
    # greater than everything → 'seasonal') would disagree. NULL dm +
    # explicit 'tie' matches the repo's /0-guard convention
    # (did_estimate, bennet_decomposition, kruskal_wallis_dow).
    dm = (f"CASE WHEN ({var0}) <= 0 THEN CAST(NULL AS DOUBLE) "
          f"ELSE ({mean_d}) / sqrt(({var0}) / n) END")
    return agg.select(
        "event_type", "n",
        (F.round(F.expr(mean_d), 4) + F.lit(0.0)).alias("mean_d"),
        (F.round(F.expr(dm), 6) + F.lit(0.0)).alias("dm_stat"),
        F.when(F.expr(f"{dm} < 0"), F.lit("naive"))
        .when(F.expr(f"{dm} > 0"), F.lit("seasonal"))
        .otherwise(F.lit("tie")).alias("favors"))


#: Factorial table for the Shapley weights over |ATTR_CHANNELS| = 4
#: channels (weights s!(n-1-s)! for s = |S| — integer-scaled by n! so
#: every credit is exact integer arithmetic).
SHAPLEY_N_FACT = 24


def shapley_attribution(events: DataFrame) -> DataFrame:
    """EXACT Shapley-value channel attribution (Shapley 1953; the
    marketing formulation of Zhao et al. 2018) — the axiomatic
    completion of the attribution family: `multitouch_attribution`
    gives the position heuristics, `removal_effect_attribution` the
    Markov counterfactual, and this the unique credit assignment
    satisfying efficiency/symmetry/dummy over the coalition game
    v(S) = conversions of journeys whose touched-channel set ⊆ S.

    Journeys are the removal-effect segmentation verbatim (user
    sequences restarting after each purchase); a journey's coalition
    is the SET of `ATTR_CHANNELS` it touched (bit_or of fixed channel
    bits), its payoff 1 if it converted. With n = 4 fixed channels
    the subset lattice is 2⁴ = 16 masks, so everything after the one
    journey aggregate is bounded-domain arithmetic: v(S) = Σ over
    submasks (a 16×16 bounded join), and each channel's
    φ_c = Σ_{S∌c} |S|!(n−1−|S|)!·[v(S∪c) − v(S)] is integer-exact
    after scaling by n! = 24. Efficiency (Σφ = v(N) − v(∅), the
    touched-journey conversions) is pinned in the tests.

    Scale: ONE user-partitioned window pass + one journey aggregate
    collapse the corpus; the lattice frames are ≤16 rows (broadcast
    everywhere). Adding a channel doubles the lattice — the fixed
    ATTR_CHANNELS contract (shared with removal_effect) keeps it
    bounded by design. Output per channel: exact scaled credit
    (numerator over n!), micro-conversions via integer DIV, and the
    6dp share of total credit."""
    spark = events.sparkSession
    n = len(ATTR_CHANNELS)
    fact = [1, 1, 2, 6, 24]
    bit_case = "CASE event_type " + " ".join(
        f"WHEN '{c}' THEN {1 << i}"
        for i, c in enumerate(ATTR_CHANNELS)) + " ELSE 0 END"
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    j = (F.coalesce(
        F.sum(F.when(F.col("event_type") == "purchase", 1)
              .otherwise(0))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0)))
    base = events.select("user_id", "event_type", j.alias("j"))
    jm = (base.groupBy("user_id", "j")
          .agg(F.expr(f"bit_or({bit_case})").alias("mask"),
               F.max(F.when(F.col("event_type") == "purchase", 1)
                     .otherwise(0)).alias("conv")))
    mv = cut(jm.groupBy("mask")
             .agg(F.sum("conv").cast("bigint").alias("cv")))
    masks = spark.range(0, 1 << n).select(
        F.col("id").cast("int").alias("s"))
    v = cut(masks.join(F.broadcast(mv), F.expr("(mask & s) = mask"),
                       "left")
            .groupBy("s")
            .agg(F.coalesce(F.sum("cv"), F.lit(0)).cast("bigint")
                 .alias("v")))
    chans = spark.createDataFrame(
        [(c, 1 << i) for i, c in enumerate(ATTR_CHANNELS)],
        "channel string, bit int")
    wt = " ".join(f"WHEN {s} THEN {fact[s] * fact[n - 1 - s]}"
                  for s in range(n))
    pairs = (chans.crossJoin(F.broadcast(v))
             .where(F.expr("(s & bit) = 0"))
             .select("channel", "bit", "s", F.col("v").alias("v0"),
                     F.expr(f"CASE bit_count(s) {wt} END")
                     .alias("wt")))
    v2 = v.select(F.col("s").alias("s2"), F.col("v").alias("v1"))
    phi = (pairs.join(F.broadcast(v2),
                      F.expr("s2 = s + bit"))
           .groupBy("channel")
           .agg(F.sum(F.col("wt") * (F.col("v1") - F.col("v0")))
                .cast("bigint").alias("phi_num")))
    tot = phi.agg(F.sum("phi_num").alias("phi_tot"))
    return (phi.crossJoin(F.broadcast(tot))
            .select("channel", "phi_num",
                    F.lit(SHAPLEY_N_FACT).cast("bigint")
                    .alias("n_fact"),
                    F.expr(f"(phi_num * 1000000) DIV {SHAPLEY_N_FACT}")
                    .cast("bigint").alias("shapley_micro"),
                    (F.round(F.expr(
                        "CAST(phi_num AS DOUBLE) / phi_tot"), 6)
                     + F.lit(0.0)).alias("attribution_share")))


def croston_by_user(events: DataFrame) -> DataFrame:
    """Croston's method (Croston 1972) for INTERMITTENT demand, per
    user over daily purchase spend — the forecaster for series that
    are mostly zeros, where Holt/EWMA on the raw series converge to
    a meaningless sub-zero blur: smooth the demand SIZE z and the
    inter-demand INTERVAL p separately, updating only on demand
    occasions; the demand-per-day forecast is z/p.

    With α = 1/2 (the `holt_by_user` bit-parity playbook):
        z_1 = q_1,              p_1 = d_1 + 1
        z_k = (z_{k-1} + q_k)/2, p_k = (p_{k-1} + (d_k − d_{k-1}))/2
    over the user's demand occasions (days with purchase spend),
    day offsets from the GLOBAL first event day. Every update is an
    add + exact power-of-two division with pinned parenthesization,
    mirrored token-for-token by the recursive-CTE oracle — both
    engines execute the identical IEEE sequence, so z and p match
    bit-for-bit with no tolerance.

    Spark shape: one broadcast 1-row day-zero frame, one
    (user, day) demand aggregate (map-side combined), then the
    sequential fold as a JVM `aggregate()` over each user's sorted
    occasion array (round-14 optimization: the former per-user
    applyInPandas paid ~0.5 ms of pandas group overhead × |users| in
    ONE coalesced task — 6.2 s of the query's 7.4 s wall; the
    higher-order fold runs the IDENTICAL left-to-right IEEE double
    sequence inside codegen, so z and p stay bit-for-bit equal to the
    recursive-CTE oracle, with no Python boundary at all). Occasion
    arrays are bounded by the calendar, the repo's collect_list
    ceiling convention. Output per user with ≥1 purchase:
    (user_id, n_occasions, z, p, croston_forecast = round(z/p, 6))."""
    cents = F.round(F.col("value") * 100).cast("bigint")
    d0 = events.agg(F.min(F.to_date("ts")).alias("d0"))
    occ = (events.where(F.col("event_type") == "purchase")
           .crossJoin(F.broadcast(d0))
           .groupBy("user_id",
                    F.datediff(F.to_date("ts"), F.col("d0"))
                    .alias("off"))
           .agg(F.sum(cents).cast("bigint").alias("q")))
    # z_k = (z_{k-1} + q_k)/2, p_k = (p_{k-1} + (d_k − d_{k-1}))/2 —
    # the exact parenthesization of the docstring, folded left to
    # right over the off-sorted array (off is unique per user, so the
    # struct sort equals the former sort_values("off"))
    fold = F.expr(
        "aggregate(arr, "
        " named_struct('z', CAST(NULL AS DOUBLE), "
        "              'p', CAST(NULL AS DOUBLE), "
        "              'prev', CAST(NULL AS INT)), "
        " (s, x) -> IF(s.z IS NULL, "
        "   named_struct('z', CAST(x.q AS DOUBLE), "
        "                'p', CAST(x.off + 1 AS DOUBLE), "
        "                'prev', x.off), "
        "   named_struct('z', (s.z + CAST(x.q AS DOUBLE)) / 2.0D, "
        "                'p', (s.p + CAST(x.off - s.prev AS DOUBLE)) "
        "                     / 2.0D, "
        "                'prev', x.off)))")
    folded = (occ.groupBy("user_id")
              .agg(F.sort_array(F.collect_list(
                  F.struct(F.col("off").cast("int").alias("off"),
                           "q"))).alias("arr"))
              .select("user_id",
                      F.size("arr").cast("bigint").alias("n_occasions"),
                      fold.alias("s"))
              .select("user_id", "n_occasions",
                      F.col("s.z").alias("z"), F.col("s.p").alias("p")))
    return folded.select(
        "user_id", "n_occasions", "z", "p",
        (F.round(F.col("z") / F.col("p"), 6) + F.lit(0.0))
        .alias("croston_forecast"))


#: Fixed-point scale for the Kruskal-Wallis per-group rank-sum terms:
#: each term (R2_g^2 * SCALE) DIV n_g is an exact integer both engines
#: compute identically; the quantization error in H is < groups/SCALE
#: — invisible at 6dp and, unlike a float sum over groups, ORDER-FREE.
KW_SCALE = 1_000_000


def kruskal_wallis_dow(events: DataFrame) -> DataFrame:
    """Kruskal-Wallis H test (Kruskal & Wallis 1952) of day-of-week
    effect on daily revenue, per event_type — the k-sample extension
    of `mann_whitney_u`: do the 7 weekday distributions differ, asked
    rank-wise so one outlier day can't fake a weekly pattern (the
    nonparametric sibling of `series_strengths`' seasonal strength).

    Exactness: daily cents are integers; doubled midranks
    (2·midrank = 2·rank + tie − 1, the nb_roc_auc identity) keep
    rank sums R2_g integral; each group term (R2_g²·KW_SCALE) DIV n_g
    is an exact integer division — summing THOSE is order-free where
    a float Σ R²/n would be engine-order-sensitive. H and the tie
    correction C = 1 − Σ(t³−t)/(N³−N) are fixed-form doubles of
    exact integers; dow is the portable Monday-based
    (day − 1970-01-05) % 7 (Spark and DuckDB disagree on
    dayofweek()'s anchor). All-tied series (C = 0) report NULL.

    Scale: |types × days| collapse; rank windows partition by
    event_type over the bounded daily frame; output is |types|."""
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = cut(events
                .groupBy("event_type", F.to_date("ts").alias("day"))
                .agg(F.sum(cents).cast("bigint").alias("v"))
                .withColumn("dow", F.expr(
                    "datediff(day, DATE '1970-01-05') % 7")))
    wr = Window.partitionBy("event_type").orderBy("v")
    wt = Window.partitionBy("event_type", "v")
    r = (daily
         .withColumn("rk", F.rank().over(wr))
         .withColumn("tie", F.count(F.lit(1)).over(wt))
         .withColumn("r2", 2 * F.col("rk") + F.col("tie") - 1))
    grp = (r.groupBy("event_type", "dow")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_g"),
                F.sum("r2").cast("bigint").alias("rs2")))
    d38 = "decimal(38,0)"
    terms = grp.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum(F.expr(
            f"(CAST(rs2 AS {d38}) * rs2 * {KW_SCALE}) DIV n_g"))
        .cast(d38).alias("srr_q"))
    ties = (daily.groupBy("event_type", "v")
            .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
            .groupBy("event_type")
            .agg(F.sum(F.expr("t * t * t - t")).cast("bigint")
                 .alias("tie_sum")))
    # H = 3*(Σ R2²/n_g)/(N(N+1)) − 3(N+1); doubled ranks fold the
    # 12/…·(R/2)² into the single factor 3.
    h = (f"3.0 * (CAST(srr_q AS DOUBLE) / {KW_SCALE}) "
         "/ (CAST(n AS DOUBLE) * (n + 1)) - 3.0 * (n + 1)")
    c = ("1.0 - CAST(tie_sum AS DOUBLE) "
         "/ (CAST(n AS DOUBLE) * n * n - n)")
    return (terms.join(ties, "event_type")
            .select("event_type", "n", "n_groups", "tie_sum",
                    (F.round(F.expr(h), 6) + F.lit(0.0)).alias("h"),
                    (F.round(F.expr(
                        f"CASE WHEN ({c}) <= 0.0 "
                        "THEN CAST(NULL AS DOUBLE) "
                        f"ELSE ({h}) / ({c}) END"), 6)
                     + F.lit(0.0)).alias("h_adj")))


#: Wilson interval z for 95% two-sided coverage.
WILSON_Z = 1.959963984540054


def wilson_intervals(events: DataFrame) -> DataFrame:
    """Wilson score 95% confidence interval for each event_type's
    daily-active conversion rate (users who emitted the type on the
    first day / all first-day users) — the interval every rate
    dashboard should use instead of the Wald ±z√(p(1−p)/n), which
    collapses to zero width at p = 0 or 1 and undercovers small n
    (Brown, Cai & DasGupta 2001). Wilson inverts the score test:
        center = (p + z²/2n) / (1 + z²/n)
        half   = z·√(p(1−p)/n + z²/4n²) / (1 + z²/n)
    and stays inside [0, 1] by construction.

    Counts are exact integers from one per-user/day aggregate; the
    interval is a fixed-form double expression with the z constant
    written to full double precision (shared text), 6dp. Scale: one
    corpus scan → |types| frame."""
    d0 = events.agg(F.min(F.to_date("ts")).alias("d0"))
    day1 = (events.crossJoin(F.broadcast(d0))
            .where(F.to_date("ts") == F.col("d0")))
    users = (day1.groupBy("user_id")
             .agg(*[F.max((F.col("event_type") == t).cast("int"))
                    .alias(f"t_{t}")
                    for t in ("view", "click", "signup", "purchase",
                              "error")]))
    rows = None
    for t in ("view", "click", "signup", "purchase", "error"):
        r = users.agg(
            F.lit(t).alias("event_type"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(f"t_{t}").cast("bigint").alias("k"))
        rows = r if rows is None else rows.unionByName(r)
    z = WILSON_Z
    p = "(CAST(k AS DOUBLE) / n)"
    denom = f"(1.0 + {z} * {z} / n)"
    center = f"(({p} + {z} * {z} / (2.0 * n)) / {denom})"
    half = (f"({z} * sqrt({p} * (1.0 - {p}) / n "
            f"+ {z} * {z} / (4.0 * CAST(n AS DOUBLE) * n)) / {denom})")
    return rows.select(
        "event_type", "n", "k",
        (F.round(F.expr(p), 6) + F.lit(0.0)).alias("rate"),
        (F.round(F.expr(f"{center} - {half}"), 6) + F.lit(0.0))
        .alias("lo95"),
        (F.round(F.expr(f"{center} + {half}"), 6) + F.lit(0.0))
        .alias("hi95"))


def transition_entropy(events: DataFrame) -> DataFrame:
    """Entropy rate of the user event process under the first-order
    Markov model `event_transitions` estimates: per source state the
    conditional next-event entropy H(next | s) = −Σ_t p(t|s)·ln
    p(t|s), plus the process entropy rate Σ_s π̂(s)·H(next|s) with
    π̂ the observed source distribution — how PREDICTABLE the
    clickstream is, the one-number sequel to the transition matrix
    (a 0-entropy state is a deterministic funnel step; ln 5 ≈ 1.609
    is uniform noise over the 5 types).

    Exactness: counts are exact integers; each ln appears once per
    (from, to) cell quantized to BIGINT micronats (the NB playbook),
    so the per-state entropy is an exact integer combination
    Σ n_t·(ln n_from − ln n_t scaled)… concretely
    H_mn(s) = (Σ_t n_t · (L(n_from) − L(n_t))) DIV n_from with
    L(x) = round(ln(x)·1e6) — integer arithmetic after one ln per
    bounded cell; the rate is the same construction one level up.
    Output: (from_type, n_from, entropy_mn) per state plus a
    '__rate__' row with the entropy rate."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (events.select(
        "user_id", "ts", "event_id",
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"))
        .where(F.col("to_type").isNotNull()))
    counts = cut(pairs.groupBy("from_type", "to_type")
                 .agg(F.count("*").cast("bigint").alias("n")))
    ln_mn = "CAST(round(ln(CAST({x} AS DOUBLE)) * 1000000, 0) AS BIGINT)"
    per = (counts
           .groupBy("from_type")
           .agg(F.sum("n").cast("bigint").alias("n_from")))
    h = cut(counts.join(per, "from_type")
            .select("from_type", "n_from",
                    F.expr(f"n * ({ln_mn.format(x='n_from')} "
                           f"- {ln_mn.format(x='n')})").alias("term"))
            .groupBy("from_type", "n_from")
            .agg(F.expr("sum(term) DIV max(n_from)").cast("bigint")
                 .alias("entropy_mn")))
    tot = h.agg(F.sum("n_from").cast("bigint").alias("n_all"))
    rate = (h.crossJoin(F.broadcast(tot))
            .agg(F.expr("sum(n_from * entropy_mn) DIV max(n_all)")
                 .cast("bigint").alias("entropy_mn"),
                 F.max("n_all").cast("bigint").alias("n_from"))
            .select(F.lit("__rate__").alias("from_type"),
                    "n_from", "entropy_mn"))
    return h.select("from_type", "n_from", "entropy_mn") \
        .unionByName(rate)


#: Quantization of the segmented-regression SSE comparison: UNIT
#: (cent^2) resolution - at sf1 the corpus SSE is ~4e16 cent^2, so
#: a 1e6 multiplier overflowed the BIGINT quotient (caught by the
#: sf1 soak); 1-cent^2 resolution is far below any real SSE
#: difference and the (sse, day) tiebreak resolves exact ties.
#: Documented bound: quotient fits BIGINT to ~1e8-cent daily
#: totals; pre-scale y beyond that.
SEG_SSE_SCALE = 1


def segmented_trend_break(events: DataFrame) -> DataFrame:
    """Single-breakpoint segmented regression of each event_type's
    daily revenue (the structural-break / broken-stick model —
    Quandt 1958's search, the regression complement of
    `cusum_changepoint`'s mean-shift detector): for every candidate
    split day, fit OLS lines to the left and right segments and
    take the split minimizing total SSE — WHERE did the trend
    change, and how much does allowing a break explain?

    Exactness: with x = integer day offsets and y = integer cents,
    every segment's moments (n, Σx, Σy, Σxy, Σx², Σy²) come from
    ONE type-partitioned cumulative window (suffix = total − prefix)
    — so all C−3 candidate fits cost one pass, not C regressions.
    Each segment's SSE = (S_yy·S_xx − S_xy²)/(n·S_xx) with
    S_ab = n·Σab − Σa·Σb evaluated EXACTLY in decimal(38) and
    quantized by one integer division (SEG_SSE_SCALE); the argmin
    over (sse_q, day) is a min(struct) on exact integers. Segments
    need ≥ 2 distinct days (x-variance > 0 by construction); types
    need ≥ 4 days. Documented bound: the quantized quotient fits
    BIGINT to ~1e9-cent daily totals; divide y by 100 first beyond
    that.

    Output per type: (event_type, n_days, break_day — first day of
    the RIGHT segment, yyyy-MM-dd — sse_split_q, sse_single_q,
    explained = 1 − split/single, 6dp)."""
    d38 = "decimal(38,0)"
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = cut(events
                .groupBy("event_type", F.to_date("ts").alias("day"))
                .agg(F.sum(cents).cast("bigint").alias("y"))
                .withColumn("x", F.datediff(
                    F.col("day"), F.lit("1970-01-05").cast("date"))
                    .cast("bigint")))
    w = (Window.partitionBy("event_type").orderBy("x")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = cut(daily
              .withColumn("rn", F.row_number().over(
                  Window.partitionBy("event_type").orderBy("x")))
              .withColumn("cn", F.count(F.lit(1)).over(w))
              .withColumn("csx", F.sum("x").over(w))
              .withColumn("csy", F.sum("y").over(w))
              .withColumn("csxy", F.sum(F.expr(f"CAST(x AS {d38}) * y"))
                          .over(w))
              .withColumn("csxx", F.sum(F.expr(f"CAST(x AS {d38}) * x"))
                          .over(w))
              .withColumn("csyy", F.sum(F.expr(f"CAST(y AS {d38}) * y"))
                          .over(w)))
    tot = (cum.groupBy(F.col("event_type").alias("et"))
           .agg(F.max("cn").cast("bigint").alias("n"),
                F.max("csx").cast("bigint").alias("tx"),
                F.max("csy").cast("bigint").alias("ty"),
                F.max("csxy").cast(d38).alias("txy"),
                F.max("csxx").cast(d38).alias("txx"),
                F.max("csyy").cast(d38).alias("tyy"))
           .where(F.col("n") >= 4))

    def sse(n, sx, sy, sxy, sxx, syy):
        saa = f"(CAST({n} AS {d38}) * {sxx} - CAST({sx} AS {d38}) * {sx})"
        sbb = f"(CAST({n} AS {d38}) * {syy} - CAST({sy} AS {d38}) * {sy})"
        sab = f"(CAST({n} AS {d38}) * {sxy} - CAST({sx} AS {d38}) * {sy})"
        return (f"CAST((({sbb} * {saa} - {sab} * {sab}) "
                f"* {SEG_SSE_SCALE}) "
                f"DIV (CAST({n} AS {d38}) * {saa}) AS BIGINT)")

    cand = (cum.join(F.broadcast(tot),
                     F.col("event_type") == F.col("et"))
            .where((F.col("rn") >= 2) & (F.col("rn") <= F.col("n") - 2))
            .withColumn("nl", F.col("cn"))
            .withColumn("nr", F.col("n") - F.col("cn"))
            .withColumn("sse_l", F.expr(
                sse("nl", "csx", "csy", "csxy", "csxx", "csyy")))
            .withColumn("sse_r", F.expr(
                sse("nr", "(tx - csx)", "(ty - csy)", "(txy - csxy)",
                    "(txx - csxx)", "(tyy - csyy)")))
            .withColumn("sse_q", F.col("sse_l") + F.col("sse_r")))
    best = (cand.select("event_type", "n",
                        F.struct(F.col("sse_q"), F.col("x")).alias("s"))
            .groupBy("event_type", "n")
            .agg(F.min("s").alias("s"))
            .select("event_type", F.col("n").alias("n_days"),
                    F.col("s.sse_q").alias("sse_split_q"),
                    F.col("s.x").alias("bx")))
    single = tot.select(
        F.col("et").alias("event_type"),
        F.expr(sse("n", "tx", "ty", "txy", "txx", "tyy"))
        .alias("sse_single_q"))
    # break_day = first day of the RIGHT segment (day after the
    # argmin's left-segment end)
    nxt = (cum.select("event_type", F.col("x").alias("bx"),
                      F.lead("day").over(
                          Window.partitionBy("event_type")
                          .orderBy("x")).alias("break_day"))
           .where(F.col("break_day").isNotNull()))
    return (best.join(nxt, ["event_type", "bx"])
            .join(single, "event_type")
            .select("event_type", "n_days",
                    F.date_format("break_day", "yyyy-MM-dd")
                    .alias("break_day"),
                    "sse_split_q", "sse_single_q",
                    (F.round(F.expr(
                        "CASE WHEN sse_single_q <= 0 "
                        "THEN CAST(NULL AS DOUBLE) "
                        "ELSE 1.0 - CAST(sse_split_q AS DOUBLE) "
                        "/ sse_single_q END"), 6) + F.lit(0.0))
                    .alias("explained")))


#: Log-rank quantization scale.
LOGRANK_SCALE = 1_000_000


def logrank_test(events: DataFrame) -> DataFrame:
    """Log-rank test (Mantel 1966) comparing the time-to-first-
    purchase survival curves of the two user_id-parity arms — the
    hypothesis test the survival family was missing next to the
    `kaplan_meier` estimator and `nelson_aalen_hazard`: do the two
    cohorts convert at the same rate, weighting every event day by
    its risk sets (censoring handled correctly, unlike a naive
    conversion-rate z-test).

    Durations and censoring come from `_survival_durations`, as in
    `kaplan_meier` (whole days from first signup to first purchase at
    or after it, censored at the corpus horizon, exact integer
    microseconds). At each event day d: O₁ += d₁, E₁ += n₁·d/n and
    V += d·n₁·n₀·(n−d)/(n²·(n−1)) — each term quantized by ONE
    integer division (LOGRANK_SCALE) so the sums are order-free
    exact integers (decimal(38) numerators; documented bound
    ~1e7 at-risk users — drop the scale a decade beyond);
    χ² = (O₁·S − E₁q)²/(Vq·S) is one fixed-form double and the
    p-value reuses the shared A&S erfc text with z = √χ²
    (χ²₁ tail ≡ two-sided normal). Risk sets come from per-arm
    CUMULATIVE ended-counts over the bounded day frame — never a
    users×days join.

    Output: one row (n_treat, n_ctrl, o1, e1_q, v_q, chi2,
    p_micro)."""
    d38 = "decimal(38,0)"
    pu = cut(_survival_durations(events)
             .select((F.col("user_id") % 2).alias("arm"), "t", "e"))
    per = (pu.groupBy("arm", "t")
           .agg(F.count(F.lit(1)).cast("bigint").alias("ended"),
                F.sum("e").cast("bigint").alias("d")))
    ntot = pu.groupBy("arm").agg(F.count(F.lit(1)).cast("bigint")
                                 .alias("n_arm"))
    days = per.select("t").distinct()

    # each arm's risk set on EVERY day (a day absent from one arm
    # still needs that arm's at-risk count): n_arm minus the endings
    # strictly before t, via a bounded triangular join on the
    # calendar-sized day frame
    def risk_for_all_days(a):
        ended = (per.where(F.col("arm") == a)
                 .select(F.col("t").alias("t2"),
                         "ended", F.col("d").alias("dd")))
        na = ntot.where(F.col("arm") == a).select("n_arm")
        return (days.crossJoin(F.broadcast(na))
                .join(F.broadcast(ended),
                      F.col("t2") < F.col("t"), "left")
                .groupBy("t")
                .agg((F.max("n_arm")
                      - F.coalesce(F.sum("ended"), F.lit(0)))
                     .cast("bigint").alias(f"n{a}"))
                .join(per.where(F.col("arm") == a)
                      .select("t", F.col("d").alias(f"d{a}")),
                      "t", "left")
                .na.fill({f"d{a}": 0}))
    both = cut(risk_for_all_days(0).join(risk_for_all_days(1), "t")
               .where((F.col("d0") + F.col("d1")) >= 1))
    s = LOGRANK_SCALE
    e1 = (f"(CAST(n1 AS {d38}) * (d0 + d1) * {s}) DIV (n0 + n1)")
    vt = (f"CASE WHEN n0 + n1 > 1 THEN "
          f"(CAST(d0 + d1 AS {d38}) * n1 * n0 "
          f"* (n0 + n1 - d0 - d1) * {s}) "
          f"DIV (CAST(n0 + n1 AS {d38}) * (n0 + n1) "
          f"* (n0 + n1 - 1)) ELSE 0 END")
    agg = both.agg(
        F.sum("d1").cast("bigint").alias("o1"),
        F.sum(F.expr(e1)).cast("bigint").alias("e1_q"),
        F.sum(F.expr(vt)).cast("bigint").alias("v_q"))
    chi2 = (f"CASE WHEN v_q <= 0 THEN CAST(NULL AS DOUBLE) ELSE "
            f"(CAST(o1 AS DOUBLE) * {s} - e1_q) "
            f"* (CAST(o1 AS DOUBLE) * {s} - e1_q) "
            f"/ (CAST(v_q AS DOUBLE) * {s}) END")
    from cloud_native_mapreduce_spark.operators.stats import (
        normal_two_sided_p_expr)
    p = normal_two_sided_p_expr(f"sqrt({chi2})")
    arms_wide = (ntot.groupBy()
                 .agg(F.max(F.when(F.col("arm") == 1,
                                   F.col("n_arm"))).alias("n_treat"),
                      F.max(F.when(F.col("arm") == 0,
                                   F.col("n_arm"))).alias("n_ctrl")))
    return (arms_wide.crossJoin(F.broadcast(agg))
            .select("n_treat", "n_ctrl", "o1", "e1_q", "v_q",
                    (F.round(F.expr(chi2), 6) + F.lit(0.0))
                    .alias("chi2"),
                    F.expr(f"CASE WHEN v_q <= 0 "
                           f"THEN CAST(NULL AS BIGINT) ELSE "
                           f"CAST(round({p} * {s}, 0) AS BIGINT) "
                           f"END").alias("p_micro")))


def interval_join_unmatched(events: DataFrame) -> DataFrame:
    """Clicks with NO same-user purchase in the following hour — the
    batch LEFT-ANTI side of the attribution interval join, and the
    value-checked twin of `streaming.core.stream_interval_join_outer`
    (whose NULL-purchase rows are exactly these clicks, minus the
    corpus tail still live in join state at replay end).

    Plan: equality key (user_id) anti-join with the interval as a
    residual predicate on the hash-matched bucket — never an interval
    cartesian. At 100 TB both sides shuffle once on user_id; the
    residual range check runs inside the matched bucket (the
    scd2_pointintime_join discipline)."""
    clicks = (events.where(F.col("event_type") == "click")
              .select("user_id", F.col("ts").alias("click_ts")))
    purchases = (events.where(F.col("event_type") == "purchase")
                 .select(F.col("user_id").alias("p_user_id"),
                         F.col("ts").alias("purchase_ts")))
    return (clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts")
           + F.expr("INTERVAL 1 HOUR")),
        "left_anti")
        .select("user_id", "click_ts"))


def mann_kendall_trend(events: DataFrame) -> DataFrame:
    """Mann-Kendall monotonic-trend test (Mann 1945; Kendall 1975)
    over each event_type's daily revenue series — the nonparametric
    sibling of `theil_sen_trend` (which gives the slope; this gives
    the significance) and `linear_trend` (which assumes normal
    errors).

    S = Σ_{i<j} sign(v_j − v_i) over day pairs — exact integer from
    the calendar-bounded pair frame (the hodges_lehmann convention:
    |days|² per type, never corpus-sized). Tie-corrected variance as
    the exact integer var18 = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)
    (= 18·Var(S)); z applies the ±1 continuity correction and is one
    fixed-form double over exact integers, 6dp. Zero-variance series
    (all days equal) report NULL z and 'none' — the standing /0
    convention. Trend calls use the 5% two-sided normal bound.

    Output: (event_type, n_days, s_stat, var18, z, trend)."""
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = cut(events
                .groupBy("event_type", F.to_date("ts").alias("day"))
                .agg(F.sum(cents).cast("bigint").alias("v")))
    d2 = daily.select(F.col("event_type").alias("et2"),
                      F.col("day").alias("day2"),
                      F.col("v").alias("v2"))
    s = (daily.join(d2, (F.col("event_type") == F.col("et2"))
                    & (F.col("day") < F.col("day2")))
         .groupBy("event_type")
         .agg(F.sum(F.signum(F.col("v2") - F.col("v")))
              .cast("bigint").alias("s_stat")))
    n = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"))
    ties = (daily.groupBy("event_type", "v")
            .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
            .groupBy("event_type")
            .agg(F.sum(F.expr("t * (t - 1) * (2 * t + 5)"))
                 .cast("bigint").alias("tie18")))
    base = (n.join(s, "event_type").join(ties, "event_type")
            .withColumn("var18", F.expr(
                "n_days * (n_days - 1) * (2 * n_days + 5) - tie18")))
    zc = ("CASE WHEN var18 <= 0 THEN CAST(NULL AS DOUBLE) "
          "WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var18 / 18.0) "
          "WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var18 / 18.0) "
          "ELSE 0.0 END")
    return base.select(
        "event_type", "n_days", "s_stat", "var18",
        (F.round(F.expr(zc), 6) + F.lit(0.0)).alias("z"),
        F.expr(f"CASE WHEN {zc} > 1.959963984540054 THEN 'up' "
               f"WHEN {zc} < -1.959963984540054 THEN 'down' "
               f"ELSE 'none' END").alias("trend"))


def kendall_tau_daily(events: DataFrame, type_x: str = "click",
                      type_y: str = "purchase") -> DataFrame:
    """Kendall's τ-b rank correlation (Kendall 1938) between two
    event types' daily revenue over their SHARED days — do click-
    heavy days co-move with purchase-heavy days, robust to outliers
    and monotone transforms (the rank complement of a Pearson r).

    Every count is an exact integer over the calendar-bounded day-
    pair frame: concordant, discordant, x-only ties, y-only ties,
    both-tied; τ-b = (C − D)/√((P − Tx)(P − Ty)) with P the total
    pair count and Tx/Ty ALL pairs tied in that coordinate — one
    fixed-form double, 6dp, NULL when either margin is constant.

    Output: one row (n_days, concordant, discordant, ties_x_only,
    ties_y_only, ties_both, tau_b)."""
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = cut(events
                .where(F.col("event_type").isin([type_x, type_y]))
                .groupBy(F.to_date("ts").alias("day"))
                .pivot("event_type", [type_x, type_y])
                .agg(F.coalesce(F.sum(cents), F.lit(0)).cast("bigint"))
                .where(F.col(type_x).isNotNull()
                       & F.col(type_y).isNotNull())
                .select("day", F.col(type_x).alias("x"),
                        F.col(type_y).alias("y")))
    d2 = daily.select(F.col("day").alias("day2"),
                      F.col("x").alias("x2"), F.col("y").alias("y2"))
    pairs = (daily.join(d2, F.col("day") < F.col("day2"))
             .select((F.signum(F.col("x2") - F.col("x")))
                     .cast("int").alias("sx"),
                     (F.signum(F.col("y2") - F.col("y")))
                     .cast("int").alias("sy")))
    agg = pairs.agg(
        F.sum(((F.col("sx") * F.col("sy")) == 1).cast("bigint"))
        .alias("concordant"),
        F.sum(((F.col("sx") * F.col("sy")) == -1).cast("bigint"))
        .alias("discordant"),
        F.sum(((F.col("sx") == 0) & (F.col("sy") != 0))
              .cast("bigint")).alias("ties_x_only"),
        F.sum(((F.col("sx") != 0) & (F.col("sy") == 0))
              .cast("bigint")).alias("ties_y_only"),
        F.sum(((F.col("sx") == 0) & (F.col("sy") == 0))
              .cast("bigint")).alias("ties_both"))
    nd = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    tau = ("CASE WHEN (concordant + discordant + ties_y_only) = 0 "
           "OR (concordant + discordant + ties_x_only) = 0 "
           "THEN CAST(NULL AS DOUBLE) ELSE "
           "(concordant - discordant) / "
           "sqrt(CAST(concordant + discordant + ties_y_only AS DOUBLE)"
           " * CAST(concordant + discordant + ties_x_only AS DOUBLE)) "
           "END")
    return (nd.crossJoin(F.broadcast(agg))
            .select("n_days", "concordant", "discordant",
                    "ties_x_only", "ties_y_only", "ties_both",
                    (F.round(F.expr(tau), 6) + F.lit(0.0))
                    .alias("tau_b")))


def spearman_daily(events: DataFrame, type_x: str = "click",
                   type_y: str = "purchase") -> DataFrame:
    """Spearman rank correlation ρ (Spearman 1904) between the same
    two daily-revenue series as `kendall_tau_daily` — the midrank
    Pearson, quantifying monotone association on the rank scale
    where τ-b counts pair inversions.

    Doubled midranks are exact integers (2·midrank = 2·cnt_less +
    cnt_tie + 1, the nb_roc_auc identity), computed per coordinate
    over the DISTINCT-VALUE frame via a broadcast less-than
    join-aggregate — the frame is calendar-bounded (≤ |days| rows),
    and the single-series rank has no partition key, so a window
    here would plan the unpartitioned Window node the repo's plan
    gate forbids. Every moment of the rank vectors is an exact
    integer sum and ρ is ONE fixed-form double (Pearson on doubled
    ranks — the doubling cancels), 6dp, NULL on a constant margin.
    Output: one row (n_days, rho)."""
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = cut(events
                .where(F.col("event_type").isin([type_x, type_y]))
                .groupBy(F.to_date("ts").alias("day"))
                .pivot("event_type", [type_x, type_y])
                .agg(F.coalesce(F.sum(cents), F.lit(0)).cast("bigint"))
                .where(F.col(type_x).isNotNull()
                       & F.col(type_y).isNotNull())
                .select("day", F.col(type_x).alias("x"),
                        F.col(type_y).alias("y")))

    def ranked(col: str) -> DataFrame:
        g = daily.groupBy(col).agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"))
        lesser = g.select(F.col(col).alias("v2"),
                          F.col("cnt").alias("c2"))
        r = (g.join(F.broadcast(lesser), F.col("v2") < F.col(col),
                    "left")
             .groupBy(col, "cnt")
             .agg(F.coalesce(F.sum("c2"), F.lit(0)).alias("c_less")))
        return r.select(F.col(col),
                        (2 * F.col("c_less") + F.col("cnt") + 1)
                        .alias(f"r2_{col}"))

    j = (daily.join(ranked("x"), "x").join(ranked("y"), "y"))
    agg = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("r2_x").cast("bigint").alias("sx"),
        F.sum("r2_y").cast("bigint").alias("sy"),
        F.sum(F.expr("r2_x * r2_y")).cast("bigint").alias("sxy"),
        F.sum(F.expr("r2_x * r2_x")).cast("bigint").alias("sxx"),
        F.sum(F.expr("r2_y * r2_y")).cast("bigint").alias("syy"))
    rho = ("CASE WHEN n_days * sxx = sx * sx "
           "OR n_days * syy = sy * sy THEN CAST(NULL AS DOUBLE) "
           "ELSE (CAST(n_days AS DOUBLE) * sxy - "
           "CAST(sx AS DOUBLE) * sy) / "
           "(sqrt(CAST(n_days AS DOUBLE) * sxx - "
           "CAST(sx AS DOUBLE) * sx) * "
           "sqrt(CAST(n_days AS DOUBLE) * syy - "
           "CAST(sy AS DOUBLE) * sy)) END")
    return agg.select("n_days",
                      (F.round(F.expr(rho), 6) + F.lit(0.0))
                      .alias("rho"))


def friedman_dow(events: DataFrame) -> DataFrame:
    """Friedman rank test (Friedman 1937) for a day-of-week effect on
    daily revenue: blocks = ISO weeks with all 7 days present,
    treatments = the 7 weekdays, revenue ranked WITHIN each week —
    the repeated-measures complement of `kruskal_wallis_dow`, which
    pools days across weeks and so confounds the weekday effect with
    week-level drift; Friedman blocks that drift out.

    Doubled within-week midranks are exact integers; the tie-robust
    Conover form Q = (k−1)·Σ_j(R2_j − n(k+1))² / Σ_ij(r2_ij −
    (k+1))² has every sum exact (the doubling cancels between
    numerator and denominator — sanity pin: perfect concordance over
    n blocks gives the textbook Q = n(k−1)), leaving one fixed-form
    double, 6dp (NULL when every week is internally constant).
    Output: one row (n_blocks, k, q_stat) — χ²(k−1) under H0."""
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = (events
             .groupBy(F.to_date("ts").alias("day"))
             .agg(F.sum(cents).cast("bigint").alias("v"))
             .withColumn("wk", F.expr(
                 "date_trunc('week', CAST(day AS TIMESTAMP))"))
             .withColumn("dow", F.dayofweek("day").cast("int")))
    full = (daily.groupBy("wk")
            .agg(F.count(F.lit(1)).alias("nd"))
            .where(F.col("nd") == 7).select("wk"))
    d = cut(daily.join(full, "wk"))
    # doubled within-week midranks over k=7 values
    d2 = d.select(F.col("wk").alias("wk2"), F.col("v").alias("v2"))
    r2 = (d.join(d2, F.col("wk") == F.col("wk2"))
          .groupBy("wk", "dow", "v")
          .agg((2 * F.sum((F.col("v2") < F.col("v")).cast("bigint"))
                + F.sum((F.col("v2") == F.col("v")).cast("bigint"))
                + 1).alias("r2")))
    k = 7
    per_dow = r2.groupBy("dow").agg(
        F.sum("r2").cast("bigint").alias("r2j"),
        F.count(F.lit(1)).cast("bigint").alias("n"))
    num = per_dow.agg(
        F.max("n").cast("bigint").alias("n_blocks"),
        F.sum(F.expr(f"(r2j - n * {k + 1}) * (r2j - n * {k + 1})"))
        .cast("bigint").alias("num"))
    den = r2.agg(
        F.sum(F.expr(f"(r2 - {k + 1}) * (r2 - {k + 1})"))
        .cast("bigint").alias("den"))
    q = (f"CASE WHEN den = 0 THEN CAST(NULL AS DOUBLE) "
         f"ELSE CAST({k - 1} AS DOUBLE) * num / den END")
    return (num.crossJoin(F.broadcast(den))
            .select("n_blocks", F.lit(k).cast("int").alias("k"),
                    (F.round(F.expr(q), 6) + F.lit(0.0))
                    .alias("q_stat")))


def burstiness_index(events: DataFrame) -> DataFrame:
    """Burstiness of each event type's inter-arrival process
    (Goh & Barabási 2008): B = (σ − μ)/(σ + μ) over the gaps between
    consecutive events of the type — −1 for a metronome, 0 for a
    Poisson process, →1 for heavy bursts. The one-number arrival-
    process readout next to `burst_detect` (which localizes bursts)
    and `session_concurrency` (which measures their overlap).

    Gaps are exact integer MICROseconds (unix_micros ↔ DuckDB
    epoch_us — whole-second truncation would diverge on fractional
    timestamps) from one type-partitioned window pass; μ and σ come
    from exact decimal(38) Σg and Σg², so B is one fixed-form double
    of exact sums, 6dp (NULL for types with < 2 gaps or zero
    mean-and-deviation; the µs scale cancels in B). Output:
    (event_type, n_gaps, mean_gap_s 2dp, b_index)."""
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    g = (events
         .withColumn("prev", F.lag(F.unix_micros("ts")).over(w))
         .where(F.col("prev").isNotNull())
         .select("event_type",
                 (F.unix_micros("ts") - F.col("prev"))
                 .cast("bigint").alias("g")))
    d38 = "decimal(38,0)"
    agg = g.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.sum(F.col("g").cast(d38)).cast(d38).alias("sg"),
        F.sum(F.expr(f"CAST(g AS {d38}) * g")).cast(d38).alias("sgg"))
    mu = "(CAST(sg AS DOUBLE) / n_gaps)"
    var = f"(CAST(sgg AS DOUBLE) / n_gaps - {mu} * {mu})"
    b = (f"CASE WHEN n_gaps < 2 OR sqrt({var}) + {mu} = 0 "
         f"THEN CAST(NULL AS DOUBLE) "
         f"ELSE (sqrt({var}) - {mu}) / (sqrt({var}) + {mu}) END")
    return agg.select(
        "event_type", "n_gaps",
        (F.round(F.expr(f"{mu} / 1000000.0"), 2) + F.lit(0.0))
        .alias("mean_gap_s"),
        (F.round(F.expr(b), 6) + F.lit(0.0)).alias("b_index"))


#: Matrix-profile subsequence length (days).
MP_WINDOW = 7


def matrix_profile_daily(events: DataFrame,
                         m: int = MP_WINDOW) -> DataFrame:
    """Matrix profile (Yeh et al., ICDM 2016) of each event_type's
    daily revenue series at subsequence length m=7: for every window
    position, the squared z-free Euclidean distance to its NEAREST
    non-overlapping other window — the one-pass answer to both
    "where are the motifs?" (small profile values: a repeated weekly
    pattern) and "where are the discords?" (large values: the
    series' most anomalous week). The shape-based complement of
    `sax_daily` (symbolic) and `dtw_daily_pairs` (cross-series).

    Exact integers: windows are positional (the mase_backtest
    day-ordering convention), distances are Σ(Δcents)² in
    decimal(38), the trivial-match exclusion zone is |i−j| ≥ m (the
    standard convention), and the per-position argmin ties toward
    the lower partner index. The pair frame is CALENDAR-bounded
    (positions² per type, the hodges_lehmann law), never
    corpus-sized. Output: (event_type, pos, nn_pos, d2) per window
    position — d2 BIGINT (daily cents² × 7 stays far inside int64
    at any SF where cents fit)."""
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = (events
             .groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.sum(cents).cast("bigint").alias("v")))
    w = Window.partitionBy("event_type").orderBy("day")
    pos = cut(daily.withColumn("pos",
                               (F.row_number().over(w) - 1).cast("int"))
              .select("event_type", "pos", "v"))
    # window vectors as (start, offset) pairs: win(start) covers
    # positions start .. start+m-1
    offs = pos.sparkSession.range(m).select(
        F.col("id").cast("int").alias("off"))
    win = (pos.crossJoin(F.broadcast(offs))
           .select("event_type",
                   (F.col("pos") - F.col("off")).alias("start"),
                   "off", "v")
           .where(F.col("start") >= 0))
    n_pos = pos.groupBy("event_type").agg(
        F.max("pos").alias("max_pos"))
    win = (win.join(F.broadcast(n_pos), "event_type")
           .where(F.col("start") <= F.col("max_pos") - m + 1)
           .select("event_type", "start", "off", "v"))
    other = win.select(F.col("event_type"),
                       F.col("start").alias("start_b"),
                       F.col("off"), F.col("v").alias("vb"))
    d38 = "decimal(38,0)"
    dist = (win.join(other, ["event_type", "off"])
            .where(F.expr(f"abs(start - start_b) >= {m}"))
            .groupBy("event_type", "start", "start_b")
            .agg(F.sum(F.expr(
                f"CAST((v - vb) AS {d38}) * (v - vb)"))
                .cast("bigint").alias("d2")))
    w_nn = Window.partitionBy("event_type", "start").orderBy(
        F.col("d2").asc(), F.col("start_b").asc())
    return (dist.withColumn("rn", F.row_number().over(w_nn))
            .where(F.col("rn") == 1)
            .select("event_type", F.col("start").alias("pos"),
                    F.col("start_b").alias("nn_pos"), "d2"))


def event_type_mi(events: DataFrame) -> DataFrame:
    """Pairwise mutual information between event-type PRESENCE per
    user (Cover & Thomas ch. 2): for every unordered type pair, the
    MI of the two presence indicators over the user population — do
    users who error also purchase? The user-level dependence readout
    beside `pmi_pairs` (token co-occurrence) and
    `transition_entropy` (sequence order).

    The 2×2 contingency cells are exact integers from one distinct
    (user, type) unpivot + one user-keyed self-join (type_a <
    type_b) + per-type totals; MI = Σ_cells (n/N)·ln(n·N/(n_i·n_j))
    with empty cells contributing 0 — the float ln appears once per
    bounded pair cell and rounds to 4dp (the tfidf hash-stability
    convention). Output: (type_a, type_b, n11, n10, n01, n00,
    mi_nats)."""
    pres = (events.select("user_id", F.col("event_type").alias("t"))
            .distinct()
            # cut: `cut` raises event_type_mi 10/10 → 11/11 jobs (sf0.01)
            .localCheckpoint(eager=False))
    n_users = events.select("user_id").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("nn"))
    per = pres.groupBy("t").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_t"))
    pairs = (pres.join(pres.select(F.col("user_id"),
                                   F.col("t").alias("t_b")),
                       "user_id")
             .where(F.col("t") < F.col("t_b"))
             .groupBy(F.col("t").alias("type_a"),
                      F.col("t_b").alias("type_b"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("n11")))
    base = (pairs
            .join(F.broadcast(per.select(F.col("t").alias("type_a"),
                                         F.col("n_t").alias("na"))),
                  "type_a")
            .join(F.broadcast(per.select(F.col("t").alias("type_b"),
                                         F.col("n_t").alias("nb"))),
                  "type_b")
            .crossJoin(F.broadcast(n_users))
            .withColumn("n10", F.expr("na - n11"))
            .withColumn("n01", F.expr("nb - n11"))
            .withColumn("n00", F.expr("nn - na - nb + n11")))

    def cell(nij: str, ni: str, nj: str) -> str:
        return (f"CASE WHEN {nij} = 0 THEN 0.0 "
                f"ELSE (CAST({nij} AS DOUBLE) / nn) "
                f"* ln(CAST({nij} AS DOUBLE) * nn "
                f"/ (CAST({ni} AS DOUBLE) * {nj})) END")

    mi = " + ".join([
        cell("n11", "na", "nb"),
        cell("n10", "na", "(nn - nb)"),
        cell("n01", "(nn - na)", "nb"),
        cell("n00", "(nn - na)", "(nn - nb)")])
    return base.select(
        "type_a", "type_b", "n11", "n10", "n01", "n00",
        (F.round(F.expr(mi), 4) + F.lit(0.0)).alias("mi_nats"))


def record_breaks_daily(events: DataFrame) -> DataFrame:
    """Running-record audit of each event type's daily revenue: how
    many days set a new all-time high (strictly exceeding every
    earlier day), and when the last record fell — the streak/record
    diagnostic next to `max_drawdown_daily` (worst fall) and
    `burst_detect` (local spikes). For an i.i.d. series the expected
    record count is the harmonic number H(n) ≈ ln n; a count far
    above that is trend, far below is early-peak decay.

    Exact: daily cents, one type-partitioned window computing the
    strictly-preceding running max (lag of cummax), record ⇔ v >
    that max (the first day is a record by convention: empty-prefix
    max is NULL). Output: (event_type, n_days, n_records,
    last_record_day)."""
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = (events
             .groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.sum(cents).cast("bigint").alias("v")))
    w = (Window.partitionBy("event_type").orderBy("day")
         .rowsBetween(Window.unboundedPreceding, -1))
    flagged = daily.withColumn(
        "is_rec",
        (F.col("v") > F.coalesce(F.max("v").over(w),
                                 F.lit(-1))).cast("bigint"))
    return (flagged.groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_days"),
                 F.sum("is_rec").cast("bigint").alias("n_records"),
                 F.date_format(
                     F.max(F.when(F.col("is_rec") == 1,
                                  F.col("day"))), "yyyy-MM-dd")
                 .alias("last_record_day")))


#: Page-Hinkley drift threshold in daily-revenue cents: the alarm
#: fires when the PH statistic (max cumulative positive deviation
#: from the running mean) crosses this. Fixed in absolute units so
#: the oracle replays it exactly; a production deployment would set
#: it from a calibration window.
PH_LAMBDA_CENTS = 50_000


def page_hinkley_drift(events: DataFrame) -> DataFrame:
    """Page-Hinkley mean-drift test (Page 1954; the streaming-drift
    standard, e.g. Gama et al. 2014 survey §3.1) over each event
    type's daily revenue: with running mean x̄_t over days 1..t,
    accumulate U_t = Σ_{i<=t}(x_i − x̄_i); the PH statistic is
    PH_t = U_t − min_{s<=t} U_s, and drift is flagged at the first
    day where PH_t > λ. The upward-drift complement of
    `cusum_changepoint` (known-target CUSUM) and
    `segmented_trend_break` (retrospective single break).

    Exactness: daily values are integer cents; the only floats are
    the running means (prefix-sum / count — one IEEE division per
    day, identical order in any engine because the window is
    day-ordered). Output per event type: (event_type, ph_max 4dp,
    ph_argmax_day, first_drift_day nullable, drifted)."""
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = (events
             .groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.sum(cents).cast("bigint").alias("v")))
    w = (Window.partitionBy("event_type").orderBy("day")
         .rowsBetween(Window.unboundedPreceding, 0))
    dev = F.col("v") - F.sum("v").over(w) / F.count("v").over(w)
    with_u = daily.select(
        "event_type", "day",
        F.sum(dev).over(
            Window.partitionBy("event_type").orderBy("day")
            .rowsBetween(Window.unboundedPreceding, 0)).alias("u"))
    ph = with_u.select(
        "event_type", "day",
        (F.col("u") - F.min("u").over(
            Window.partitionBy("event_type").orderBy("day")
            .rowsBetween(Window.unboundedPreceding, 0))).alias("ph"))
    mx = ph.groupBy("event_type").agg(F.max("ph").alias("_mx"))
    lam = float(PH_LAMBDA_CENTS)
    return (ph.join(mx, "event_type")
            .groupBy("event_type")
            .agg((F.round(F.max("ph"), 4) + F.lit(0.0)).alias("ph_max"),
                 F.date_format(
                     F.min(F.when(F.col("ph") == F.col("_mx"),
                                  F.col("day"))), "yyyy-MM-dd")
                 .alias("ph_argmax_day"),
                 F.date_format(
                     F.min(F.when(F.col("ph") > lam, F.col("day"))),
                     "yyyy-MM-dd").alias("first_drift_day"),
                 F.max(F.when(F.col("ph") > lam, True)
                       .otherwise(False)).alias("drifted")))


def scc_event_graph(events: DataFrame) -> DataFrame:
    """Strongly connected components of the event-type transition
    DIGRAPH: vertices are event types, directed edges are observed
    consecutive transitions within a user's ordered stream (the
    `event_transitions` edge rule), and two types share a component
    iff each reaches the other. The directed complement of the
    co-occurrence views (`event_type_mi`, `transition_entropy`):
    a type outside the main SCC is an entry/exit-only state — e.g. a
    terminal error no journey leaves.

    Scale shape: ONE corpus pass (the user-partitioned lead window)
    builds the distinct edge list; everything after runs on the
    TYPE-DOMAIN frames (|V| event types, ≤|V|² edges — bounded by the
    catalog, never the corpus). Reachability closes by doubling
    (reach ∘ reach), so rounds = ⌈log₂ diameter⌉ with one bounded
    distinct per round; SCC id = min type mutually reachable with
    self-reach included. Output: (event_type, scc_id, scc_size)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = cut(events
                .select(F.col("event_type").alias("src"),
                        F.lead("event_type").over(w).alias("dst"))
                .where(F.col("dst").isNotNull())
                .distinct())
    loop = loop_session(edges)
    verts = (edges.select(F.col("src").alias("v"))
             .unionAll(edges.select(F.col("dst").alias("v")))
             .distinct())
    n_verts = verts.count()  # |event-type catalog| — bounded
    reach = (edges.select("src", "dst")
             .unionAll(verts.select(F.col("v").alias("src"),
                                    F.col("v").alias("dst")))
             .distinct())
    rounds = max(1, (n_verts - 1).bit_length())
    for _ in range(rounds):
        hop = (reach.join(reach.select(F.col("src").alias("dst"),
                                       F.col("dst").alias("dst2")),
                          "dst")
               .select("src", F.col("dst2").alias("dst")))
        reach = cut(reach.unionAll(hop).distinct(), loop)
    back = reach.select(F.col("dst").alias("src"),
                        F.col("src").alias("dst"))
    mutual = reach.join(back, ["src", "dst"], "left_semi")
    scc = (mutual.groupBy("src")
           .agg(F.min("dst").alias("scc_id"))
           .select(F.col("src").alias("event_type"), "scc_id"))
    size = scc.groupBy("scc_id").agg(
        F.count("*").cast("bigint").alias("scc_size"))
    return scc.join(size, "scc_id").select("event_type", "scc_id",
                                           "scc_size")


def levene_brown_forsythe(events: DataFrame) -> DataFrame:
    """Brown-Forsythe variance-homogeneity test across event types
    (Levene's test with the median center — the robust variant): are
    value SPREADS equal between groups, the premise check behind
    `anova_oneway`'s equal-variance F. W is a one-way ANOVA F computed
    on z_ij = |y_ij − median_g|.

    Exactness: cents are integers; the exact per-group median is
    either an integer or a half-integer (interpolated even-n case),
    so z2 = |2y − 2·median| is an EXACT BIGINT and the whole ANOVA
    runs on z2 via the `anova_oneway` machinery: exact decimal(38)
    moment sums, per-group s²/n quantized to 1e-4 before the
    cross-group sum, one fixed-form W expression (W is scale-
    invariant, so running on 2z changes nothing). Output per group:
    n, median (2dp), mean |dev| (4dp), plus the corpus-wide W and
    dfs repeated per row (the anova_oneway flat-frame convention)."""
    y = F.round(F.col("value") * 100).cast("bigint")
    med = (events.select("event_type", y.alias("y"))
           .groupBy("event_type")
           .agg(F.expr("percentile(y, 0.5)").alias("med")))
    z = (events.select("event_type", y.alias("y"))
         .join(F.broadcast(med), "event_type")
         .select("event_type", "med",
                 F.abs(2 * F.col("y")
                       - F.round(2 * F.col("med")).cast("bigint"))
                 .alias("z2")))
    g = (z.groupBy("event_type")
         .agg(F.count("*").cast("bigint").alias("n"),
              F.first("med").alias("med"),
              F.sum(F.col("z2").cast("decimal(38,0)")).alias("s"),
              F.sum(F.col("z2").cast("decimal(38,0)")
                    * F.col("z2").cast("decimal(38,0)")).alias("ss")))
    tot = g.agg(F.sum("n").cast("double").alias("tn"),
                F.sum("s").cast("double").alias("ts"),
                F.sum("ss").cast("double").alias("tss"),
                F.count("*").cast("double").alias("k"))
    j = g.crossJoin(F.broadcast(tot))
    nd, sd = F.col("n").cast("double"), F.col("s").cast("double")
    per = j.select(
        "event_type", "n", "med", sd.alias("sd"), nd.alias("nd"),
        "tn", "ts", "tss", "k",
        F.round(sd * sd / nd * 10000).cast("bigint")
        .alias("sq_over_n_q4"))
    glob = (per.groupBy("tn", "ts", "tss", "k")
            .agg((F.sum("sq_over_n_q4").cast("double") / 10000.0)
                 .alias("sum_sq_over_n")))
    ssb = F.col("sum_sq_over_n") - F.col("ts") * F.col("ts") / F.col("tn")
    ssw = F.col("tss") - F.col("sum_sq_over_n")
    w = F.when(
        (F.col("k") > 1) & (F.col("tn") > F.col("k")) & (ssw > 0),
        F.round((ssb / (F.col("k") - 1))
                / (ssw / (F.col("tn") - F.col("k"))), 6) + F.lit(0.0))
    gl = glob.select("tn", "k", w.alias("w_stat"))
    return (per.select("event_type", "n",
                       (F.round(F.col("med") / 100.0, 2) + F.lit(0.0))
                       .alias("median_value"),
                       (F.round(F.col("sd") / F.col("nd") / 200.0, 4)
                        + F.lit(0.0)).alias("mean_abs_dev"),
                       "tn", "k")
            .join(gl, ["tn", "k"])
            .select("event_type", "n", "median_value", "mean_abs_dev",
                    "w_stat",
                    (F.col("k") - 1).cast("bigint").alias("df_between"),
                    (F.col("tn") - F.col("k")).cast("bigint")
                    .alias("df_within")))


def runs_test_daily(events: DataFrame) -> DataFrame:
    """Wald-Wolfowitz runs test per event type on the daily-revenue
    sequence: is the above/below-median pattern random, or does it
    trend/oscillate? The sequence-randomness triage beside
    `mann_kendall_trend` (monotone trend) and `burstiness_index`
    (inter-event dispersion). Days equal to the median are dropped
    (the standard convention); R = observed runs, z = (R − μ)/σ with
    μ = 2·n1·n2/n + 1 and σ² = 2·n1·n2·(2·n1·n2 − n)/(n²·(n−1)).

    Exact integers through R/n1/n2 (median is exact integer-or-half
    cents, comparisons exact); μ/σ/z are one fixed-form double
    expression over them, 4dp. A type with σ = 0 (all days one side)
    reports null z."""
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = (events
             .groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.sum(cents).cast("bigint").alias("v")))
    med = (daily.groupBy("event_type")
           .agg(F.expr("percentile(v, 0.5)").alias("med")))
    signed = (daily.join(F.broadcast(med), "event_type")
              .where(2 * F.col("v")
                     != F.round(2 * F.col("med")).cast("bigint"))
              .select("event_type", "day",
                      (2 * F.col("v") > F.round(2 * F.col("med"))
                       .cast("bigint")).alias("above")))
    w = Window.partitionBy("event_type").orderBy("day")
    runs = (signed
            .select("event_type", "above",
                    F.lag("above").over(w).alias("prev"))
            .groupBy("event_type")
            .agg(F.sum(F.when(F.col("prev").isNull()
                              | (F.col("above") != F.col("prev")), 1)
                       .otherwise(0)).cast("bigint").alias("r_runs"),
                 F.sum(F.when(F.col("above"), 1).otherwise(0))
                 .cast("bigint").alias("n1"),
                 F.sum(F.when(~F.col("above"), 1).otherwise(0))
                 .cast("bigint").alias("n2")))
    n = (F.col("n1") + F.col("n2")).cast("double")
    p = 2.0 * F.col("n1") * F.col("n2")
    mu = p / n + 1
    var = p * (p - n) / (n * n * (n - 1))
    z = F.when((F.col("n1") > 0) & (F.col("n2") > 0) & (var > 0),
               F.round((F.col("r_runs") - mu) / F.sqrt(var), 4)
               + F.lit(0.0))
    return runs.select("event_type", "r_runs", "n1", "n2",
                       z.alias("z_stat"))


def decile_lift(events: DataFrame) -> DataFrame:
    """Cumulative-gains / lift table for a propensity ranking: users
    ranked by click count (the 'model score'), outcome = did the user
    ever purchase. Per score decile: users, positives, cumulative
    recall (gain) and lift vs the base rate — the campaign-targeting
    readout beside `nb_roc_auc`'s threshold-free AUC.

    Ranks are tie-free ((clicks DESC, user_id) — deterministic) and
    come from the distributed two-pass range rank (the zipf_fit
    machinery; ntile() would be an unpartitioned window, the
    plan-audit scale-killer); deciles by exact integer arithmetic
    d = (rank−1)·10 DIV n_users. Integers until the final two
    divisions."""
    base = (events
            .groupBy("user_id")
            .agg(F.sum(F.when(F.col("event_type") == "click", 1)
                       .otherwise(0)).cast("bigint").alias("clicks"),
                 F.max(F.when(F.col("event_type") == "purchase", 1)
                       .otherwise(0)).cast("bigint").alias("pos")))
    order = [F.col("clicks").desc(), F.col("user_id").asc()]
    ranged = (base.repartitionByRange(*order)
              .withColumn("_pid", F.spark_partition_id()))
    w_local = Window.partitionBy("_pid").orderBy(*order)
    local = cut(ranged.withColumn("_lrn",
                                  F.row_number().over(w_local)
                                  .cast("bigint")))
    counts = local.groupBy("_pid").agg(F.max("_lrn").alias("_cnt"))
    prior = counts.select(F.col("_pid").alias("_pid2"),
                          F.col("_cnt").alias("_cnt2"))
    offsets = (counts
               .join(F.broadcast(prior), F.col("_pid2") < F.col("_pid"),
                     "left")
               .groupBy("_pid")
               .agg(F.coalesce(F.sum("_cnt2"), F.lit(0)).alias("_off")))
    ranked = (local.join(F.broadcast(offsets), "_pid")
              .select("pos", (F.col("_off") + F.col("_lrn"))
                      .alias("rank")))
    tot = ranked.agg(F.count("*").cast("bigint").alias("n_users"),
                     F.sum("pos").cast("bigint").alias("n_pos_total"))
    dec = (ranked.crossJoin(F.broadcast(tot))
           .select(F.expr("CAST((rank - 1) * 10 DIV n_users AS INT)")
                   .alias("decile"), "pos", "n_users", "n_pos_total")
           .groupBy("decile", "n_users", "n_pos_total")
           .agg(F.count("*").cast("bigint").alias("n_users_decile"),
                F.sum("pos").cast("bigint").alias("n_pos")))
    w_cum = (Window.partitionBy("n_users")
             .orderBy("decile")
             .rowsBetween(Window.unboundedPreceding, 0))
    return (dec
            .select("decile", "n_users_decile", "n_pos",
                    F.sum("n_pos").over(w_cum).cast("bigint")
                    .alias("cum_pos"),
                    "n_users", "n_pos_total")
            .select("decile", "n_users_decile", "n_pos", "cum_pos",
                    (F.round(F.col("cum_pos") / F.col("n_pos_total"),
                             4) + F.lit(0.0)).alias("cum_gain"),
                    (F.round((F.col("n_pos") / F.col("n_users_decile"))
                             / (F.col("n_pos_total")
                                / F.col("n_users")), 4)
                     + F.lit(0.0)).alias("lift")))


def cramers_v_dow(events: DataFrame) -> DataFrame:
    """Cramér's V association between event type and day-of-week over
    the event-count contingency table — "is WHAT users do tied to
    WHEN?", the normalized [0,1] strength readout on top of a
    chi-square (which `drift_chisq` reports unnormalized for two
    periods). χ² = Σ_cells (O − E)²/E over the k×7 table.

    Exactness: O and all margins are exact integers; each cell's
    (O−E)²/E double is quantized to 1e-4 as an integer before the
    cross-cell sum (the anova_oneway/drift_chisq convention — the
    table is ≤ k·7 cells, so quantization error is bounded at
    5e-5·cells); V = sqrt(χ²/(n·min(k−1, 6))) is one fixed-form
    expression, 4dp. Output: one row (n, k, chi2, cramers_v)."""
    cells = (events
             .groupBy(F.col("event_type"),
                      F.dayofweek("ts").alias("dow"))
             .agg(F.count("*").cast("bigint").alias("o")))
    row_m = cells.groupBy("event_type").agg(
        F.sum("o").cast("bigint").alias("row_n"))
    col_m = cells.groupBy("dow").agg(
        F.sum("o").cast("bigint").alias("col_n"))
    tot = cells.agg(F.sum("o").cast("bigint").alias("n"),
                    F.countDistinct("event_type").cast("bigint")
                    .alias("k"),
                    F.countDistinct("dow").cast("bigint").alias("c"))
    e = (F.col("row_n").cast("double") * F.col("col_n") / F.col("n"))
    # the FULL k x c grid, not just observed cells: an empty cell
    # with E > 0 contributes E to chi2, and dropping them undercuts
    # the statistic (caught by the perfect-association hand test:
    # V measured 0.71 instead of 1.0 before this join)
    grid = row_m.crossJoin(F.broadcast(col_m))
    oc = F.coalesce(F.col("o"), F.lit(0)).cast("bigint")
    cell_q = (grid.join(cells, ["event_type", "dow"], "left")
              .crossJoin(F.broadcast(tot))
              .select("n", "k", "c",
                      F.round((oc - e) * (oc - e) / e
                              * 10000).cast("bigint").alias("term_q4")))
    chi2 = F.col("sum_q4").cast("double") / 10000.0
    dfm = F.least(F.col("k") - 1, F.col("c") - 1).cast("double")
    return (cell_q.groupBy("n", "k", "c")
            .agg(F.sum("term_q4").alias("sum_q4"))
            .select("n", "k",
                    (F.round(chi2, 4) + F.lit(0.0)).alias("chi2"),
                    (F.round(F.sqrt(chi2 / (F.col("n") * dfm)), 4)
                     + F.lit(0.0)).alias("cramers_v")))


def welch_ttest_pairs(events: DataFrame) -> DataFrame:
    """Welch's unequal-variance t statistic for every PAIR of event
    types on per-event value (Welch 1947) — the pairwise follow-up to
    `anova_oneway`'s k-group F: which specific pairs differ, asked
    without the pooled-variance assumption that `levene_brown_forsythe`
    exists to audit. df is Welch-Satterthwaite.

    Exactness: per-group n / Σcents / Σcents² are one exact integer
    aggregate; the k-row moment frame self-joins on type_a < type_b
    (k² bounded pairs — never a data-sized join) and t / df are ONE
    fixed-form double expression over exact integers, shared text with
    the oracle, 4dp. Groups with n < 2 or zero variance report null.

    Scale: |events| collapses to k rows in one pass; everything after
    is constant-size."""
    cents = F.round(F.col("value") * 100).cast("bigint")
    d38 = "decimal(38,0)"
    g = (events
         .groupBy("event_type")
         .agg(F.count("*").cast("bigint").alias("n"),
              F.sum(cents.cast(d38)).alias("s"),
              F.sum(cents.cast(d38) * cents.cast(d38)).alias("ss")))
    a = g.select(F.col("event_type").alias("type_a"),
                 F.col("n").alias("na"), F.col("s").alias("sa"),
                 F.col("ss").alias("ssa"))
    b = g.select(F.col("event_type").alias("type_b"),
                 F.col("n").alias("nb"), F.col("s").alias("sb"),
                 F.col("ss").alias("ssb"))
    pairs = a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
    # per-group mean (cents) and sample variance (cents²), doubles of
    # exact integers — one shared fixed form
    ma = "CAST(sa AS DOUBLE) / na"
    mb = "CAST(sb AS DOUBLE) / nb"
    va = f"(CAST(ssa AS DOUBLE) - ({ma}) * sa) / (na - 1)"
    vb = f"(CAST(ssb AS DOUBLE) - ({mb}) * sb) / (nb - 1)"
    se2 = f"(({va}) / na + ({vb}) / nb)"
    t = f"(({ma}) - ({mb})) / sqrt({se2})"
    df = (f"({se2}) * ({se2}) / "
          f"((({va}) / na) * (({va}) / na) / (na - 1) "
          f"+ (({vb}) / nb) * (({vb}) / nb) / (nb - 1))")
    ok = f"na > 1 AND nb > 1 AND ({se2}) > 0"
    return pairs.select(
        "type_a", "type_b", "na", "nb",
        (F.round(F.expr(ma) / 100.0, 4) + F.lit(0.0)).alias("mean_a"),
        (F.round(F.expr(mb) / 100.0, 4) + F.lit(0.0)).alias("mean_b"),
        (F.round(F.expr(f"CASE WHEN {ok} THEN {t} END"), 4)
         + F.lit(0.0)).alias("t_stat"),
        (F.round(F.expr(f"CASE WHEN {ok} THEN {df} END"), 2)
         + F.lit(0.0)).alias("df_welch"))


def bartlett_variances(events: DataFrame) -> DataFrame:
    """Bartlett's test of variance homogeneity across event types
    (Bartlett 1937) — the likelihood-ratio sibling of
    `levene_brown_forsythe`: sharper under normality, fragile outside
    it, which is exactly why both belong on the same dashboard.

        T = ((N−k)·ln Sp² − Σ(nᵢ−1)·ln Sᵢ²) / C
        C = 1 + (Σ 1/(nᵢ−1) − 1/(N−k)) / (3(k−1))

    Exactness: per-group moments are exact integers; each group's
    ln-variance term and 1/(nᵢ−1) term are quantized to 1e-6 BEFORE
    the cross-group sum (the drift_chisq convention — float Σ over
    groups is engine-order-sensitive; Σ of quantized BIGINTs is not).
    Pooled Sp² comes from exact decimal sums. Output is one row:
    k, n, pooled variance (4dp), T (4dp). Degenerate groups (n < 2
    or zero variance) make the whole statistic null — Bartlett is
    undefined there, and reporting a number would lie.

    Scale: one pass to k rows; the rest is constant-size."""
    cents = F.round(F.col("value") * 100).cast("bigint")
    d38 = "decimal(38,0)"
    g = (events
         .groupBy("event_type")
         .agg(F.count("*").cast("bigint").alias("n"),
              F.sum(cents.cast(d38)).alias("s"),
              F.sum(cents.cast(d38) * cents.cast(d38)).alias("ss")))
    # per-group sample variance in cents², a double of exact integers
    vi = ("(CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) / n * s) "
          "/ (n - 1)")
    per = g.select(
        "n", "s", "ss",
        F.expr(f"CASE WHEN n > 1 AND ({vi}) > 0 THEN "
               f"CAST(round((n - 1) * ln({vi}) * 1000000) AS BIGINT) "
               "END").alias("lnterm_q6"),
        F.expr("CASE WHEN n > 1 THEN "
               "CAST(round(1000000.0 / (n - 1)) AS BIGINT) END")
        .alias("inv_q6"),
        # within-group sum of squares, exact decimal: ss − s²/n is
        # not integral; keep the exact pieces and divide at the end
        F.expr(f"CASE WHEN n > 1 AND ({vi}) > 0 THEN 0 ELSE 1 END")
        .alias("bad"))
    tot = per.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("n_total"),
        F.sum(F.expr(f"CAST(ss AS {d38})")).alias("tss"),
        # Σ(nᵢ−1)·Sᵢ² exactly: Σss − Σ s²/n needs per-group division;
        # quantize s²/n to 1e-4 before summing (exact BIGINT sum)
        F.sum(F.expr("CAST(round(CAST(s AS DOUBLE) / n * s * 10000) "
                     "AS BIGINT)")).alias("sq_over_n_q4"),
        F.sum("lnterm_q6").alias("sum_lnterm_q6"),
        F.sum("inv_q6").alias("sum_inv_q6"),
        F.sum("bad").cast("bigint").alias("n_bad"))
    sp2 = ("(CAST(tss AS DOUBLE) - CAST(sq_over_n_q4 AS DOUBLE) "
           "/ 10000.0) / (n_total - k)")
    t_num = (f"(n_total - k) * ln({sp2}) "
             "- CAST(sum_lnterm_q6 AS DOUBLE) / 1000000.0")
    c_corr = ("1.0 + (CAST(sum_inv_q6 AS DOUBLE) / 1000000.0 "
              "- 1.0 / (n_total - k)) / (3.0 * (k - 1))")
    ok = f"n_bad = 0 AND k > 1 AND n_total > k AND ({sp2}) > 0"
    return tot.select(
        "k", F.col("n_total").alias("n"),
        (F.round(F.expr(f"CASE WHEN {ok} THEN ({sp2}) / 10000.0 END"),
                 4) + F.lit(0.0)).alias("pooled_var"),
        (F.round(F.expr(f"CASE WHEN {ok} THEN ({t_num}) / ({c_corr}) "
                        "END"), 4) + F.lit(0.0)).alias("t_stat"))


def kendalls_w_days(events: DataFrame) -> DataFrame:
    """Kendall's coefficient of concordance W (Kendall & Babington
    Smith 1939): do the days AGREE on how the event types rank by
    daily revenue? Each complete day is a judge ranking the k types;
    W ∈ [0, 1] is the tie-corrected agreement, and χ² = m(k−1)W its
    large-sample test. The repeated-measures agreement readout beside
    `friedman_dow` (which asks the transposed question).

    Exactness: daily cents are exact; within-day doubled midranks
    (2·rank + tie − 1, the kruskal_wallis_dow identity) keep per-type
    rank sums R2 integral, so 4·S = Σ(R2ⱼ − m(k+1))² is an exact
    BIGINT and W = 3·(4S) / (m²·(k³−k) − m·ΣT)·(1/12·…) folds to one
    exact-rational fixed form (doubled ranks contribute the factor 4;
    ΣT = Σ(t³−t) over within-day ties is exact). Only days containing
    ALL k types count as judges — a missing type would make ranks
    incomparable across days. All-tied days contribute ΣT fully; if
    the denominator hits 0 (every day fully tied) W is null.

    Scale: |events| collapses to |days|×k; rank windows partition by
    day over that bounded frame; output is one row."""
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = (events
             .groupBy(F.to_date("ts").alias("day"), "event_type")
             .agg(F.sum(cents).cast("bigint").alias("v")))
    k_total = daily.select("event_type").distinct().count()
    full = (daily
            .withColumn("k_day", F.count(F.lit(1)).over(
                Window.partitionBy("day")))
            .where(F.col("k_day") == F.lit(k_total)))
    wr = Window.partitionBy("day").orderBy("v")
    wt = Window.partitionBy("day", "v")
    r = (full
         .withColumn("rk", F.rank().over(wr))
         .withColumn("tie", F.count(F.lit(1)).over(wt))
         .withColumn("r2", 2 * F.col("rk") + F.col("tie") - 1))
    rsums = (r.groupBy("event_type")
             .agg(F.sum("r2").cast("bigint").alias("r2sum"),
                  F.count(F.lit(1)).cast("bigint").alias("m")))
    ties = (r.groupBy("day", "v")
            .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
            .agg(F.sum(F.expr("t * t * t - t")).cast("bigint")
                 .alias("tie_sum")))
    # 4S = Σⱼ (R2ⱼ − m(k+1))², W = 12·S/(m²(k³−k) − m·ΣT) = 3·(4S)/…
    # two-step: attach k and m first (they are properties of the
    # bounded frame, not per-row), then the exact quadratic sum
    km = rsums.agg(F.count(F.lit(1)).cast("bigint").alias("k"),
                   F.max("m").cast("bigint").alias("m"))
    s4 = (rsums.select("r2sum").crossJoin(F.broadcast(km))
          .select(F.expr(
              "CAST((r2sum - m * (k + 1)) AS DECIMAL(38,0)) "
              "* (r2sum - m * (k + 1))").alias("sq"), "k", "m")
          .groupBy("k", "m")
          .agg(F.sum("sq").cast("decimal(38,0)").alias("s4")))
    denom = ("CAST(m AS DOUBLE) * m * (CAST(k AS DOUBLE) * k * k - k)"
             " - CAST(m AS DOUBLE) * tie_sum")
    w_expr = f"3.0 * CAST(s4 AS DOUBLE) / ({denom})"
    return (s4.crossJoin(F.broadcast(ties))
            .select("k", "m", "tie_sum",
                    (F.round(F.expr(
                        f"CASE WHEN ({denom}) > 0 THEN {w_expr} END"),
                        6) + F.lit(0.0)).alias("w"),
                    (F.round(F.expr(
                        f"CASE WHEN ({denom}) > 0 THEN "
                        f"m * (k - 1) * ({w_expr}) END"), 4)
                     + F.lit(0.0)).alias("chi2")))


def grubbs_daily_outlier(events: DataFrame) -> DataFrame:
    """Grubbs' maximum-studentized-deviate statistic per event type on
    daily revenue (Grubbs 1950): G = max|vᵢ − v̄| / s and WHICH day
    attains it — the single-outlier screen beside `anomaly_zscore`
    (which flags all |z| > 3) and `robust_anomaly_days` (the
    MAD-based variant this parametric form should be read against).

    Exactness: daily cents are integers; n / Σv / Σv² are one exact
    aggregate; the argmax day is selected by exact integer comparison
    |n·vᵢ − Σv| (the studentization factor is constant within a type,
    so maximizing the integer numerator IS maximizing G), ties broken
    by earliest day — deterministic without ever comparing doubles.
    G itself is one fixed-form double, 4dp.

    Scale: |events| → |types|×|days| → one window partitioned by
    type over the bounded daily frame → |types| rows."""
    cents = F.round(F.col("value") * 100).cast("bigint")
    d38 = "decimal(38,0)"
    daily = (events
             .groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.sum(cents).cast("bigint").alias("v")))
    g = (daily.groupBy("event_type")
         .agg(F.count("*").cast("bigint").alias("n"),
              F.sum(F.col("v").cast(d38)).alias("s"),
              F.sum(F.col("v").cast(d38) * F.col("v").cast(d38))
              .alias("ss")))
    j = daily.join(F.broadcast(g), "event_type")
    # |n·v − s| is an exact integer ∝ |v − mean|: argmax without doubles
    dev = F.expr(f"abs(CAST(n AS {d38}) * v - s)")
    w = Window.partitionBy("event_type").orderBy(
        dev.desc(), F.col("day").asc())
    top = (j.withColumn("rn", F.row_number().over(w))
           .where(F.col("rn") == 1))
    var = ("(CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) / n * s) "
           "/ (n - 1)")
    g_stat = (f"abs(v - CAST(s AS DOUBLE) / n) / sqrt({var})")
    return top.select(
        "event_type", "n",
        F.date_format("day", "yyyy-MM-dd").alias("outlier_day"),
        (F.round(F.col("v") / 100.0, 2) + F.lit(0.0))
        .alias("outlier_value"),
        (F.round(F.expr(
            f"CASE WHEN n > 2 AND ({var}) > 0 THEN {g_stat} END"), 4)
         + F.lit(0.0)).alias("g_stat"))


def ccf_lead_lag(events: DataFrame, max_lag: int = 3) -> DataFrame:
    """Cross-correlation function between every pair of event types'
    daily-revenue series at lags −max_lag..+max_lag (Box & Jenkins
    1970, ch. 11): does one stream LEAD another — e.g. do views at
    lag −1 predict purchases? The lead-lag readout beside `acf_daily`
    (self-correlation) and `kendall_tau_daily` (contemporaneous).

    r(h) = corr(a_t, b_{t+h}) over the days where both sides exist
    (pairwise-complete, the standard sample CCF on an incomplete
    calendar). Exactness: daily cents are integers; the lag join is
    calendar arithmetic (b.day = a.day + h); n, Σx, Σy, Σxy, Σx²,
    Σy² are exact DECIMAL(38) sums and r is ONE fixed-form double,
    4dp. Degenerate overlaps (n < 3 or zero variance either side)
    report null.

    Scale: |events| collapses to |types|×|days| once; the lag join
    fans that bounded frame out ×(2·max_lag+1) — never data-sized.
    type_a < type_b keeps each pair once; negative lags carry the
    other direction."""
    cents = F.round(F.col("value") * 100).cast("bigint")
    d38 = "decimal(38,0)"
    daily = cut(events
                .groupBy("event_type", F.to_date("ts").alias("day"))
                .agg(F.sum(cents).cast("bigint").alias("v")))
    lags = events.sparkSession.createDataFrame(
        [(h,) for h in range(-max_lag, max_lag + 1)], "lag int")
    a = daily.select(F.col("event_type").alias("type_a"),
                     F.col("day").alias("day_a"),
                     F.col("v").alias("x"))
    b = daily.select(F.col("event_type").alias("type_b"),
                     F.col("day").alias("day_b"),
                     F.col("v").alias("y"))
    j = (a.crossJoin(F.broadcast(lags))
         .join(b, (F.col("type_a") < F.col("type_b"))
               & (F.col("day_b") == F.expr("date_add(day_a, lag)"))))
    g = (j.groupBy("type_a", "type_b", "lag")
         .agg(F.count("*").cast("bigint").alias("n"),
              F.sum(F.col("x").cast(d38)).alias("sx"),
              F.sum(F.col("y").cast(d38)).alias("sy"),
              F.sum(F.col("x").cast(d38) * F.col("y").cast(d38))
              .alias("sxy"),
              F.sum(F.col("x").cast(d38) * F.col("x").cast(d38))
              .alias("sxx"),
              F.sum(F.col("y").cast(d38) * F.col("y").cast(d38))
              .alias("syy")))
    num = "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
    vx = "(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
    vy = "(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)"
    ok = f"n >= 3 AND ({vx}) > 0 AND ({vy}) > 0"
    return g.select(
        "type_a", "type_b", "lag", "n",
        (F.round(F.expr(
            f"CASE WHEN {ok} THEN ({num}) / sqrt(({vx}) * ({vy})) "
            "END"), 4) + F.lit(0.0)).alias("ccf"))


#: Periodogram probe periods (days). Calendar-bounded constants: the
#: scan is |periods|×|days|, never data-sized.
PERIODOGRAM_PERIODS = [2, 3, 4, 5, 6, 7, 8, 9, 10, 14]


def periodogram_daily(events: DataFrame) -> DataFrame:
    """Schuster periodogram of total daily revenue at fixed probe
    periods (2..14 days): spectral power P(p) = (Σw·cos)² + (Σw·sin)²
    normalized by n², on the DEMEANED series — the frequency-domain
    seasonality readout beside `seasonal_decompose` (which assumes
    the weekly period) and `acf_daily` (time-domain). A weekly cycle
    shows as a peak at p=7.

    Exactness: demeaning is done in scaled integers (w = n·v − Σv,
    the mean folded out without division); cos/sin of the shared
    fixed-form argument 2·π·t/p are quantized to 1e-6 BEFORE the
    cross-day sum (both engines evaluate the identical double
    expression; Σ of quantized BIGINTs is order-free where float Σ
    is not); t is the exact calendar offset from the first day. The
    final power is one fixed-form double of two exact DECIMAL(38)
    sums, normalized by n²·(scale factors), 4dp.

    Scale: |events| collapses to |days| once; the probe fan-out is
    |periods|×|days| — calendar-bounded. The min-day scalar is a
    broadcast one-row join, never a global sort."""
    cents = F.round(F.col("value") * 100).cast("bigint")
    d38 = "decimal(38,0)"
    daily = (events
             .groupBy(F.to_date("ts").alias("day"))
             .agg(F.sum(cents).cast("bigint").alias("v")))
    stats = daily.agg(F.min("day").alias("day0"),
                      F.count("*").cast("bigint").alias("n"),
                      F.sum("v").cast(d38).alias("s"))
    periods = events.sparkSession.createDataFrame(
        [(p,) for p in PERIODOGRAM_PERIODS], "period int")
    base = (daily.crossJoin(F.broadcast(stats))
            .crossJoin(F.broadcast(periods))
            .select("period", "n",
                    F.expr("datediff(day, day0)").alias("t"),
                    # demeaned, scaled by n: w = n·v − Σv (exact)
                    F.expr(f"CAST(n AS {d38}) * v - s").alias("w")))
    arg = "2 * pi() * t / period"
    q = base.select(
        "period", "n", "w",
        F.expr(f"CAST(round(cos({arg}) * 1000000) AS BIGINT)")
        .alias("cq"),
        F.expr(f"CAST(round(sin({arg}) * 1000000) AS BIGINT)")
        .alias("sq"))
    g = (q.groupBy("period", "n")
         .agg(F.sum(F.expr("w * cq")).cast(d38).alias("sc"),
              F.sum(F.expr("w * sq")).cast(d38).alias("ss")))
    # P = ((Σw·cos)² + (Σw·sin)²) / (n⁴·1e12·1e4): the n² from the
    # demean scaling, n² periodogram normalization, 1e12 from the
    # two 1e6 trig quantizations, 1e4 cents² → dollars²
    p_expr = ("(CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) "
              "+ CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)) "
              "/ (CAST(n AS DOUBLE) * n * n * n * 1e12 * 1e4)")
    return (g.select("period", F.col("n").alias("n_days"),
                     (F.round(F.expr(p_expr), 4) + F.lit(0.0))
                     .alias("power")))


#: R/S chunk sizes (days). Calendar-bounded; ≥2 sizes for the slope.
HURST_SIZES = [5, 10, 15]


def hurst_rs(events: DataFrame) -> DataFrame:
    """Rescaled-range (R/S) analysis of total daily revenue (Hurst
    1951; Mandelbrot & Wallis 1969): chunk the day-indexed series
    into non-overlapping windows of size m ∈ {5,10,15}, compute
    R/S per chunk (range of cumulative deviations over the
    population std), and fit H as the log₂-log₂ OLS slope — H ≈ 0.5
    is memoryless, H > 0.5 long-range persistent. The
    long-memory readout beside `acf_daily`'s short-lag view.

    Exactness: chunks are CALENDAR-defined (offset DIV m, only
    complete chunks kept) so no global row-number is ever planned;
    within a chunk the scaled cumulative deviation c_j = m·Σ_{i≤j}vᵢ
    − j·Σv is an exact BIGINT (the mean folded out without division),
    so R·m = max c − min c is exact and S comes from exact moments.
    Per-chunk log₂(R/S) is quantized to 1e-6 before the per-size
    mean; the final slope folds the |sizes|-row frame through
    1e-6-quantized xy terms — float Σ never crosses an engine
    boundary unquantized. 4dp outputs. Chunks with S = 0 or missing
    calendar days are dropped (R/S undefined / incomparable); a size
    with no surviving chunk drops out of the frame and the fit.

    Scale: |events| → |days| once; everything after is
    calendar-bounded (|sizes|×|chunks| rows)."""
    cents = F.round(F.col("value") * 100).cast("bigint")
    d38 = "decimal(38,0)"
    daily = (events
             .groupBy(F.to_date("ts").alias("day"))
             .agg(F.sum(cents).cast("bigint").alias("v"))
             # cut: `cut` raises hurst_rs 12/12 → 17/17 jobs (sf0.01)
             .localCheckpoint(eager=False))
    day0 = daily.agg(F.min("day").alias("day0"))
    sizes = events.sparkSession.createDataFrame(
        [(m,) for m in HURST_SIZES], "m int")
    idx = (daily.crossJoin(F.broadcast(day0))
           .select(F.expr("datediff(day, day0)").alias("t"), "v")
           .crossJoin(F.broadcast(sizes))
           .select("m", F.expr("t DIV m").alias("chunk"),
                   F.expr("t % m").alias("j"), "v"))
    w = (Window.partitionBy("m", "chunk").orderBy("j")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    # scaled cumdev needs c_j = m·cum_j − (j+1)·s; the chunk total s
    # is a per-chunk aggregate the window frame can't see, so it
    # joins back onto the running-sum pass
    chunk_s = (idx.groupBy("m", "chunk")
               .agg(F.sum(F.col("v").cast(d38)).alias("s_c"),
                    F.count("*").cast("bigint").alias("n_days"),
                    F.sum(F.col("v").cast(d38) * F.col("v").cast(d38))
                    .alias("ss_c")))
    cdev = (idx
            .withColumn("cum", F.sum(F.col("v").cast(d38)).over(w))
            .join(chunk_s, ["m", "chunk"])
            .where(F.col("n_days") == F.col("m"))
            .select("m", "chunk", "n_days", "s_c", "ss_c",
                    F.expr(f"CAST(m AS {d38}) * cum "
                           f"- CAST(j + 1 AS {d38}) * s_c")
                    .alias("c")))
    rs = (cdev.groupBy("m", "chunk", "n_days", "s_c", "ss_c")
          .agg((F.max("c") - F.min("c")).alias("r_scaled")))
    # S_pop² = (Σv² − (Σv)²/m)/m; R = r_scaled/m²... r_scaled = m·R_raw
    # where R_raw is in cents·m units: c = m·(cumdev) so R·m. Then
    # R/S = r_scaled / (m · sqrt(S²)).
    s2 = ("(CAST(ss_c AS DOUBLE) - CAST(s_c AS DOUBLE) / m * s_c) "
          "/ m")
    log2rs = (f"ln(CAST(r_scaled AS DOUBLE) / (m * sqrt({s2}))) "
              "/ ln(2)")
    qchunk = (rs.where(F.expr(f"({s2}) > 0 AND r_scaled > 0"))
              .select("m", F.expr(
                  f"CAST(round(({log2rs}) * 1000000) AS BIGINT)")
                  .alias("l_q6")))
    per_size = (qchunk.groupBy("m")
                .agg(F.count("*").cast("bigint").alias("n_chunks"),
                     F.sum("l_q6").cast("bigint").alias("sum_l_q6")))
    # OLS slope over the |sizes| points (x = log2 m, y = mean log2
    # R/S): per-size xy/x²... x is a deterministic constant of m;
    # quantize per-size terms, sum the bounded frame, one fixed form
    x = "ln(CAST(m AS DOUBLE)) / ln(2)"
    y = "CAST(sum_l_q6 AS DOUBLE) / n_chunks / 1000000.0"
    pts = per_size.select(
        "m", "n_chunks", "sum_l_q6",
        F.expr(f"CAST(round(({x}) * 1000000) AS BIGINT)").alias("x_q6"),
        F.expr(f"CAST(round(({x}) * ({y}) * 1000000) AS BIGINT)")
        .alias("xy_q6"),
        F.expr(f"CAST(round(({x}) * ({x}) * 1000000) AS BIGINT)")
        .alias("xx_q6"),
        F.expr(f"CAST(round(({y}) * 1000000) AS BIGINT)").alias("y_q6"))
    fit = pts.agg(F.count("*").cast("bigint").alias("k"),
                  F.sum("x_q6").cast("bigint").alias("sx"),
                  F.sum("y_q6").cast("bigint").alias("sy"),
                  F.sum("xy_q6").cast("bigint").alias("sxy"),
                  F.sum("xx_q6").cast("bigint").alias("sxx"))
    slope = ("(CAST(k AS DOUBLE) * sxy * 1e-6 "
             "- CAST(sx AS DOUBLE) * sy * 1e-12) "
             "/ (CAST(k AS DOUBLE) * sxx * 1e-6 "
             "- CAST(sx AS DOUBLE) * sx * 1e-12)")
    h = fit.select(
        "k", (F.round(F.expr(
            f"CASE WHEN k >= 2 THEN {slope} END"), 4) + F.lit(0.0))
        .alias("hurst"))
    return (per_size
            .select("m", "n_chunks",
                    (F.round(F.expr("CAST(sum_l_q6 AS DOUBLE) "
                                    "/ n_chunks / 1000000.0"), 4)
                     + F.lit(0.0)).alias("mean_log2_rs"))
            .crossJoin(F.broadcast(h)))


def chain_ladder_forecast(events: DataFrame) -> DataFrame:
    """Chain-ladder development forecast (Mack 1993; the actuarial
    loss-triangle standard, equally the right tool for cohort
    purchase maturation): cohorts = signup week of the user (first
    event), development age = weeks since cohort start, C[c][j] =
    cumulative purchases of cohort c through age j. Volume-weighted
    development factors f_j = ΣC[·][j+1]/ΣC[·][j] over the cohorts
    that have REACHED age j+1; each cohort's ultimate = latest
    observed C · Π remaining f_j — "how many purchases will this
    cohort ever make", projected from how older cohorts matured. The
    forecasting complement of `retention_cohorts` (which only
    reports the observed triangle) and `ltv_cohort_curves`.

    Exactness: the triangle is exact integer counts on a dense
    calendar grid (missing cells are true zeros, materialized by a
    bounded week×week fan-out — never inferred from row absence);
    factors are ratios of exact integers; the remaining-factor
    product is exp(Σ quantized-1e-9 ln f) so the cross-factor float
    fold is order-free (the bartlett convention). 4dp/2dp outputs.
    Ages where the elder-cohort denominator is 0 contribute no
    factor (f = 1 convention). The fully-mature cohort's ultimate
    equals its observed value exactly (empty product).

    Scale: |events| collapses to per-user firsts + per-(cohort,
    age) counts; the grid, factors, and projection are all
    calendar-bounded (weeks²)."""
    day0 = events.agg(F.min(F.to_date("ts")).alias("day0"))
    ev = (events.crossJoin(F.broadcast(day0))
          .select("user_id", "event_type",
                  F.expr("datediff(to_date(ts), day0) DIV 7")
                  .alias("week")))
    cohort = (ev.groupBy("user_id")
              .agg(F.min("week").alias("cohort_week")))
    pur = (ev.where(F.col("event_type") == "purchase")
           .join(cohort, "user_id")
           .groupBy("cohort_week",
                    (F.col("week") - F.col("cohort_week")).alias("age"))
           .agg(F.count("*").cast("bigint").alias("inc")))
    weeks = cut(ev.select("week").distinct())
    max_w = weeks.agg(F.max("week").alias("max_week"))
    cohorts = cohort.select(F.col("cohort_week").alias("c")).distinct()
    grid = (cohorts.join(F.broadcast(weeks),
                         F.col("week") >= F.col("c"))
            .select("c", (F.col("week") - F.col("c")).alias("age")))
    wcum = (Window.partitionBy("c").orderBy("age")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = cut(grid.join(pur, (pur.cohort_week == grid.c)
                        & (pur.age == grid.age), "left")
              .select("c", grid.age.alias("age"),
                      F.coalesce("inc", F.lit(0)).alias("inc"))
              .withColumn("cum", F.sum("inc").over(wcum).cast("bigint")))
    nxt = cum.select(F.col("c").alias("c2"),
                     (F.col("age") - 1).alias("age_m"),
                     F.col("cum").alias("cum_next"))
    factors = (cum.join(nxt, (F.col("c") == F.col("c2"))
                        & (F.col("age") == F.col("age_m")))
               .groupBy("age")
               .agg(F.sum("cum").cast("bigint").alias("den"),
                    F.sum("cum_next").cast("bigint").alias("num"))
               .where(F.col("den") > 0)
               .select("age", F.expr(
                   "CAST(round(ln(CAST(num AS DOUBLE) / den) "
                   "* 1000000000) AS BIGINT)").alias("lnf_q9")))
    latest = (cum.crossJoin(F.broadcast(max_w))
              .where(F.col("age") == F.col("max_week") - F.col("c"))
              .select("c", F.col("age").alias("latest_age"),
                      F.col("cum").alias("observed_cum")))
    proj = (latest.join(F.broadcast(factors),
                        factors.age >= latest.latest_age, "left")
            .groupBy("c", "latest_age", "observed_cum")
            .agg(F.coalesce(F.sum("lnf_q9"), F.lit(0))
                 .cast("bigint").alias("sum_lnf_q9")))
    return (proj.select(
        F.col("c").alias("cohort_week"), "latest_age", "observed_cum",
        (F.round(F.expr(
            "exp(CAST(sum_lnf_q9 AS DOUBLE) / 1000000000.0)"), 4)
         + F.lit(0.0)).alias("dev_factor"),
        (F.round(F.expr(
            "observed_cum * exp(CAST(sum_lnf_q9 AS DOUBLE) "
            "/ 1000000000.0)"), 2) + F.lit(0.0)).alias("ultimate")))


def user_streaks(events: DataFrame) -> DataFrame:
    """Gaps-and-islands activity streaks: for every user, the
    longest run of CONSECUTIVE active calendar days, folded into a
    bounded histogram — how sticky is usage, read as streak lengths
    (the engagement readout beside `bitmap_retention`'s day-set
    algebra and `events_sessionize`'s intra-day gaps).

    The island trick (the standard SQL formulation): within a user,
    day − row_number(day) is CONSTANT exactly on a consecutive run,
    so one user-partitioned window + one groupBy yields island
    lengths with no self-join. Exact integers throughout; the
    per-user frame folds to (max_streak → n_users, mean active days,
    mean islands) — output is calendar-bounded (streak length ≤
    span days) even though users are not.

    Scale: |events| → distinct (user, day) (the one shuffle), one
    partitioned window, two bounded aggregates."""
    days = (events
            .select("user_id", F.to_date("ts").alias("day"))
            .distinct())
    w = Window.partitionBy("user_id").orderBy("day")
    islands = (days
               .withColumn("rn", F.row_number().over(w))
               .withColumn("anchor", F.expr("date_sub(day, rn)"))
               .groupBy("user_id", "anchor")
               .agg(F.count("*").cast("bigint").alias("len")))
    per_user = (islands.groupBy("user_id")
                .agg(F.max("len").alias("max_streak"),
                     F.sum("len").cast("bigint").alias("n_active"),
                     F.count("*").cast("bigint").alias("n_islands")))
    return (per_user.groupBy("max_streak")
            .agg(F.count("*").cast("bigint").alias("n_users"),
                 (F.round(F.sum("n_active")
                          / F.count("*").cast("double"), 2)
                  + F.lit(0.0)).alias("mean_active_days"),
                 (F.round(F.sum("n_islands")
                          / F.count("*").cast("double"), 2)
                  + F.lit(0.0)).alias("mean_islands")))


def weibull_km_fit(events: DataFrame) -> DataFrame:
    """Weibull survival fit by the linearized probability-plot method
    (Weibull 1951; the standard plotting-position estimator): on the
    Kaplan-Meier curve S(t), ln(−ln S) is LINEAR in ln t with slope =
    shape k and intercept = −k·ln λ, so one quantized OLS over the
    bounded KM day frame yields the parametric (shape, scale) summary
    of `kaplan_meier`'s nonparametric curve — k < 1 means conversion
    hazard falls with time (act early), k > 1 means it rises.

    Exactness: the fit runs on the KM curve's PUBLISHED 6dp-rounded
    S values (the oracle replays the same curve via the recursive
    CTE, so both engines fit identical points); per-point x/y/xy/x²
    terms are quantized to 1e-6 before the cross-point sum (the
    hurst_rs convention), and shape/scale are fixed-form doubles,
    4dp. Points need t > 0 and 0 < S < 1 (the boundary points carry
    no plot information); fewer than 2 points or a non-positive
    slope reports null.

    Scale: everything after `kaplan_meier`'s day-frame collapse is
    constant-size."""
    km = kaplan_meier(events)
    pts = (km.where((F.col("t") > 0) & (F.col("s") > 0)
                    & (F.col("s") < 1))
           .select(
               F.expr("CAST(round(ln(CAST(t AS DOUBLE)) * 1000000) "
                      "AS BIGINT)").alias("x_q6"),
               F.expr("CAST(round(ln(-ln(s)) * 1000000) AS BIGINT)")
               .alias("y_q6"),
               F.expr("CAST(round(ln(CAST(t AS DOUBLE)) * ln(-ln(s)) "
                      "* 1000000) AS BIGINT)").alias("xy_q6"),
               F.expr("CAST(round(ln(CAST(t AS DOUBLE)) "
                      "* ln(CAST(t AS DOUBLE)) * 1000000) AS BIGINT)")
               .alias("xx_q6")))
    fit = pts.agg(F.count("*").cast("bigint").alias("n_points"),
                  F.sum("x_q6").cast("bigint").alias("sx"),
                  F.sum("y_q6").cast("bigint").alias("sy"),
                  F.sum("xy_q6").cast("bigint").alias("sxy"),
                  F.sum("xx_q6").cast("bigint").alias("sxx"))
    slope = ("(CAST(n_points AS DOUBLE) * sxy * 1e-6 "
             "- CAST(sx AS DOUBLE) * sy * 1e-12) "
             "/ (CAST(n_points AS DOUBLE) * sxx * 1e-6 "
             "- CAST(sx AS DOUBLE) * sx * 1e-12)")
    icept = (f"(CAST(sy AS DOUBLE) * 1e-6 - ({slope}) "
             "* CAST(sx AS DOUBLE) * 1e-6) / n_points")
    ok = f"n_points >= 2 AND ({slope}) > 0"
    return fit.select(
        "n_points",
        (F.round(F.expr(f"CASE WHEN {ok} THEN {slope} END"), 4)
         + F.lit(0.0)).alias("shape_k"),
        (F.round(F.expr(
            f"CASE WHEN {ok} THEN exp(-(({icept})) / ({slope})) END"),
            4) + F.lit(0.0)).alias("scale_days"))


def isotonic_daily_fit(events: DataFrame) -> DataFrame:
    """Isotonic (monotone non-decreasing) L2 regression of total
    daily revenue on the day index, by the minimax identity
    fitted(i) = max_{a≤i} min_{b≥i} mean(v_a..v_b) (Ayer et al.
    1955; Robertson-Wright-Dykstra 1988 §1.2) — the shape-
    constrained trend every "is this metric really growing?" answer
    should use instead of eyeballing, and the calibration primitive
    behind isotonic probability calibration. PAVA, the textbook
    algorithm, is inherently SEQUENTIAL pooling; the minimax form is
    pure joins/aggregates over the calendar-bounded day frame — the
    distributed shape (O(days³) pairs, and days are bounded at any
    data scale).

    Exactness: interval means are quantized to 1e-6 (round(s/n·1e6)
    of exact integer cent sums) BEFORE the min/max lattice, so every
    comparison is exact integer — the result is exactly "isotonic
    fit of the 1e-6-quantized interval means", identical cross-
    engine, and monotone by construction (feasible sets nest).
    Output per day: observed (2dp) and fitted (6dp) dollars.

    Scale: |events| collapses to |days| once; the interval/minimax
    lattice is |days|³ joined on broadcast bounded frames — never
    data-sized, no global window anywhere."""
    cents = F.round(F.col("value") * 100).cast("bigint")
    d38 = "decimal(38,0)"
    daily = cut(events
                .groupBy(F.to_date("ts").alias("day"))
                .agg(F.sum(cents).cast("bigint").alias("v")))
    day0 = daily.agg(F.min("day").alias("day0"))
    idx = cut(daily.crossJoin(F.broadcast(day0))
              .select("day", F.expr("datediff(day, day0)").alias("t"),
                      "v"))
    a = idx.select(F.col("t").alias("ta"))
    b = idx.select(F.col("t").alias("tb"))
    ivals = a.join(F.broadcast(b), F.col("ta") <= F.col("tb"))
    isum = (ivals.join(F.broadcast(idx.select("t", "v")),
                       (F.col("t") >= F.col("ta"))
                       & (F.col("t") <= F.col("tb")))
            .groupBy("ta", "tb")
            .agg(F.sum(F.col("v").cast(d38)).alias("s"),
                 F.count("*").cast("bigint").alias("n"))
            .select("ta", "tb", F.expr(
                "CAST(round(CAST(s AS DOUBLE) / n * 1000000) "
                "AS BIGINT)").alias("avg_q6")))
    # m(i, a) = min over b ≥ i of the interval mean; fitted(i) =
    # max over a ≤ i of m(i, a)
    inner = (isum.join(F.broadcast(idx.select(F.col("t").alias("ti"))),
                       (F.col("ta") <= F.col("ti"))
                       & (F.col("ti") <= F.col("tb")))
             .groupBy("ti", "ta")
             .agg(F.min("avg_q6").alias("m_q6")))
    fit = (inner.groupBy("ti")
           .agg(F.max("m_q6").alias("fit_q6")))
    return (idx.join(fit, F.col("t") == F.col("ti"))
            .select(F.date_format("day", "yyyy-MM-dd").alias("day"),
                    (F.round(F.col("v") / 100.0, 2) + F.lit(0.0))
                    .alias("observed"),
                    (F.round(F.col("fit_q6") / 1000000.0 / 100.0, 6)
                     + F.lit(0.0)).alias("fitted")))
