"""Event-stream operators: semi-structured JSON extraction, pivot,
sessionization, rolling windows and time series.

The batch cursor-incremental read of events is
``connector_file_incremental_read`` (operators/advanced.py): the
reference's cursor-predicate pushdown (shopify.go:46-53:
``updated_at_min = state.To``) as a "WHERE cursor > checkpoint"
predicate pushed into the parquet scan by Catalyst instead of into an
HTTP query string. The streaming module (go_integ_spark.streaming)
carries the same semantics in Structured Streaming form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from go_integ_spark.registry import register
from go_integ_spark.tables import load_table

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "events_json_extract",
    tags=("json", "agg"),
    oracle="""
SELECT TRY_CAST(json_extract_string(props, '$.k') AS INT) AS k,
       CAST(count(*) AS BIGINT)   AS n_events,
       round(sum(value), 2)       AS total_value
FROM events
GROUP BY 1
""",
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: get_json_object stays JVM-side
    (Jackson under codegen) — no Python in the loop. At scale, a
    repeatedly-queried JSON field should be materialized to a real
    column at ingest; this operator is the ad-hoc path.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("int"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@register(
    "events_pivot_type_counts",
    tags=("pivot", "agg"),
    oracle="""
SELECT user_id,
       CAST(count(*) FILTER (event_type = 'click')    AS BIGINT) AS click,
       CAST(count(*) FILTER (event_type = 'error')    AS BIGINT) AS error,
       CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
       CAST(count(*) FILTER (event_type = 'signup')   AS BIGINT) AS signup,
       CAST(count(*) FILTER (event_type = 'view')     AS BIGINT) AS view
FROM events
WHERE user_id < 100
GROUP BY user_id
""",
)
def events_pivot_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list: providing the list skips the
    extra distinct-values job Spark would otherwise run, and keeps
    the output schema static (a requirement for any production
    pipeline — and for the oracle diff).
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    return (
        ev.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(EVENT_TYPES))
    )


@register(
    "events_sessionize",
    bench=True,
    tags=("window", "sessionize"),
    oracle="""
WITH gaps AS (
    SELECT user_id, ts, event_id,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                THEN 1 ELSE 0 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
    SELECT user_id, ts, event_id,
           sum(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS session_seq
    FROM gaps
)
SELECT user_id,
       CAST(max(session_seq) AS BIGINT) AS n_sessions,
       CAST(count(*) AS BIGINT)         AS n_events
FROM sessions
GROUP BY user_id
""",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (30-minute inactivity gap): lag + cumulative
    sum of session starts. One shuffle on user_id serves both window
    functions and the final aggregate (same partitioning reused).
    Gap comparison uses microsecond integers on both engines — no
    truncation mismatch. Streaming equivalent:
    go_integ_spark.streaming.sessions (session_window / state API).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    is_new = F.when(gap_us.isNull() | (gap_us > 1800 * 1_000_000), 1).otherwise(0)
    return (
        ev.withColumn("is_new", is_new)
        .withColumn("session_seq", F.sum("is_new").over(wcum))
        .groupBy("user_id")
        .agg(
            F.max("session_seq").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@register(
    "events_hourly_rollup",
    tags=("agg", "time"),
    oracle="""
SELECT date_trunc('hour', ts) AS hour, event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 2)     AS total_value
FROM events
GROUP BY 1, 2
""",
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed rollup — the batch shape of the streaming windowed
    aggregation (go_integ_spark.streaming.windows). date_trunc is a
    pure projection, so partial aggregation still collapses map-side.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@register(
    "events_funnel",
    tags=("events", "funnel", "agg"),
    oracle="""
WITH v AS (
    SELECT user_id, min(ts) AS t_view
    FROM events WHERE event_type = 'view' GROUP BY user_id
), c AS (
    SELECT e.user_id, min(e.ts) AS t_click
    FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view
    WHERE e.event_type = 'click' GROUP BY e.user_id
), p AS (
    SELECT e.user_id, min(e.ts) AS t_purchase
    FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
    WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT v.user_id,
       v.t_view,
       c.t_click,
       p.t_purchase,
       CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
                 WHEN c.user_id IS NOT NULL THEN 2
                 ELSE 1 END AS BIGINT) AS funnel_stage
FROM v
LEFT JOIN c ON c.user_id = v.user_id
LEFT JOIN p ON p.user_id = v.user_id
""",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view -> click -> purchase funnel per user: first view,
    first click strictly after it, first purchase strictly after
    that; stage = how deep the user got.

    Scale shape: each stage is one pre-filtered min-aggregation (the
    event-type filter reaches the scan) joined on user_id; all three
    stage frames share the user_id partitioning, so AQE coalesces the
    join exchanges, and no window ever sees a user's full history.
    """
    from go_integ_spark.functions.cache import cached_persist

    ev = load_table(spark, sf_dir, "events")
    # cached_persist the first two stage frames: v is referenced by c
    # and the final join, c by p and the final join — without the
    # persist Catalyst re-derives each referencing subtree, so the
    # r13 before-plan scanned events six times for three passes of
    # real work (guide §1.2: don't recompute what you already have).
    # Both frames are user-cardinality aggregates (far smaller than
    # the event corpus) and carry the groupBy's user_id hash
    # partitioning, which every downstream join is keyed on.
    v = cached_persist(
        "events_funnel_v",
        ev,
        lambda: ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view")),
    )
    c = cached_persist(
        "events_funnel_c",
        ev,
        lambda: ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click")),
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "t_view",
            "t_click",
            "t_purchase",
            F.when(F.col("t_purchase").isNotNull(), F.lit(3))
            .when(F.col("t_click").isNotNull(), F.lit(2))
            .otherwise(F.lit(1))
            .cast("bigint")
            .alias("funnel_stage"),
        )
    )


@register(
    "events_cohort_retention",
    tags=("events", "cohort", "agg"),
    oracle="""
WITH firsts AS (
    SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
    FROM events GROUP BY user_id
)
SELECT f.cohort_week,
       CAST(datediff('day', f.cohort_week,
                     CAST(date_trunc('week', e.ts) AS DATE)) / 7
            AS BIGINT) AS week_offset,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active
FROM events e
JOIN firsts f ON e.user_id = f.user_id
GROUP BY 1, 2
""",
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by the week of their
    first event; n_active = distinct users from that cohort active k
    weeks later. Week math runs on date_trunc'd dates (exact 7-day
    multiples), so the offset is integer-exact in both engines.

    Scale shape: the firsts frame is one user-keyed aggregation; the
    cohort join re-partitions on user_id (same key), so AQE reuses
    the partitioning; the final distinct-count aggregates
    (cohort, offset, user) then (cohort, offset) — both map-side
    combined.
    """
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort_week")
    )
    return (
        ev.join(firsts, "user_id")
        .select(
            "cohort_week",
            (
                F.datediff(F.to_date(F.date_trunc("week", F.col("ts"))), F.col("cohort_week"))
                / 7
            )
            .cast("bigint")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


def hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly counts (hour_start, event_type, n): a
    generated calendar spine (every hour between the corpus bounds x
    every event type) left-joined to the observed counts, zeros where
    nothing happened — the shape every time-series consumer
    (charting, anomaly detection, forecast features) needs, and the
    step people get wrong by grouping only observed rows. The frame
    under ``events_changepoint_cusum`` and ``events_forecast_eval``;
    the spine/types/counts CTEs of their oracles check it by value.

    Scale: the corpus is touched exactly twice (bounds aggregate,
    counts aggregate — both map-side combined); the spine is
    hours x types (thousands of rows at any data scale), so the
    gap-fill join is trivially broadcastable and the plan is
    insensitive to corpus size.
    """
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias(
            "hour_start"
        )
    )
    types = spark.createDataFrame(
        [(t,) for t in EVENT_TYPES], schema="event_type string"
    )
    counts = hourly_type_counts(ev).withColumnRenamed("n", "c")
    return (
        spine.crossJoin(types)
        .join(counts, ["hour_start", "event_type"], "left")
        .select(
            "hour_start",
            "event_type",
            F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("n"),
        )
    )


@register(
    "events_transition_matrix",
    tags=("events", "window", "markov"),
    oracle="""
WITH seq AS (
    SELECT user_id, event_type,
           lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS prev_type
    FROM events
)
SELECT prev_type, event_type AS next_type,
       CAST(count(*) AS BIGINT) AS n,
       round(count(*)::DOUBLE / sum(count(*)) OVER (PARTITION BY prev_type), 4)
           AS p
FROM seq
WHERE prev_type IS NOT NULL
GROUP BY prev_type, event_type
""",
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix (Markov chain over
    per-user event sequences): for each consecutive (prev, next) pair
    within a user's timeline, the transition count and the row-
    normalized probability.

    One shuffle on user_id feeds the lag window (the same partitioning
    sessionization uses — at 100 TB these share a bucketed layout);
    the subsequent aggregate is |event_types|^2 rows, so the
    normalizing window over prev_type is driver-trivial. Tie-break on
    (ts, event_id) makes the sequence — and therefore the matrix —
    deterministic under duplicate timestamps.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    counts = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total_w = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(total_w), 4).alias("p"),
    )


# Robust anomaly detection over the event stream: flag hours whose
# per-type count deviates from that type's median by more than
# MAD_SIGMAS scaled median-absolute-deviations. Median/MAD instead of
# mean/stddev because traffic anomalies are exactly the points that
# wreck a mean-based threshold (the estimator must be robust to the
# outliers it is hunting). 1.4826 rescales MAD to sigma under
# normality — the standard convention.
MAD_SIGMAS = 3.0
MAD_SCALE = 1.4826

# Shared by events_anomaly_mad AND streaming_anomaly_mad: driven to
# completion, the streaming variant must equal this batch answer
# value-exactly, so both register with the identical oracle.
ANOMALY_MAD_ORACLE = f"""
WITH hourly AS (
    SELECT date_trunc('hour', ts) AS hour_start, event_type,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
), med AS (
    SELECT event_type, quantile_cont(n, 0.5) AS med
    FROM hourly GROUP BY event_type
), mad AS (
    SELECT h.event_type, quantile_cont(abs(h.n - m.med), 0.5) AS mad
    FROM hourly h JOIN med m ON h.event_type = m.event_type
    GROUP BY h.event_type
)
SELECT h.hour_start, h.event_type, h.n,
       round(m.med, 4) AS med,
       round(d.mad, 4) AS mad,
       abs(h.n - m.med) > {MAD_SIGMAS} * {MAD_SCALE} * d.mad AS is_anomaly
FROM hourly h
JOIN med m ON h.event_type = m.event_type
JOIN mad d ON h.event_type = d.event_type
"""


@register(
    "events_anomaly_mad",
    tags=("events", "aggregation", "two_pass"),
    oracle=ANOMALY_MAD_ORACLE,
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hours whose per-type event count is a robust outlier
    (|n - median| > 3 * 1.4826 * MAD).

    Two-pass broadcast-threshold shape (same as the quality filter):
    the hourly rollup shuffles once on (hour, type); the per-type
    median and MAD are tiny aggregates (one row per event type) that
    broadcast back onto the rollup — the corpus-sized frame never
    moves again. Exact percentile keeps the oracle value-level; the
    100 TB swap is percentile_approx, identical plan shape.
    """
    from go_integ_spark.functions.cache import cached_persist

    ev = load_table(spark, sf_dir, "events")
    # hourly feeds the median subtree, the MAD subtree AND the final
    # flag join — three lineage references, each of which would
    # re-run the corpus scan + rollup without a persist (r7 review:
    # 3x redundant scan; the rollup itself is hours x types — tiny)
    hourly = cached_persist(
        "anomaly_hourly", ev, lambda: hourly_type_counts(ev)
    )
    out = hourly.join(F.broadcast(mad_thresholds(hourly)), "event_type")
    return flag_mad_anomalies(out)


def hourly_type_counts(ev: DataFrame) -> DataFrame:
    """(hour_start, event_type, n) — one rollup shuffle."""
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_start"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n"))


def mad_thresholds(hourly: DataFrame) -> DataFrame:
    """(event_type, med, mad) — UNROUNDED per-type robust thresholds
    (one tiny row per event type; the 'trained model' the streaming
    variant applies online). Kept raw so anomaly flags never depend
    on output rounding."""
    med = hourly.groupBy("event_type").agg(
        F.expr("percentile(n, 0.5)").alias("med")
    )
    h_med = hourly.join(F.broadcast(med), "event_type")
    mad = h_med.groupBy("event_type").agg(
        F.expr("percentile(abs(n - med), 0.5)").alias("mad")
    )
    return med.join(mad, "event_type")


def flag_mad_anomalies(scored: DataFrame) -> DataFrame:
    """Final projection shared by the batch and streaming variants:
    rounded reporting columns, flag computed from the RAW threshold."""
    dev = F.abs(F.col("n") - F.col("med"))
    return scored.select(
        "hour_start",
        "event_type",
        "n",
        F.round("med", 4).alias("med"),
        F.round("mad", 4).alias("mad"),
        (dev > MAD_SIGMAS * MAD_SCALE * F.col("mad")).alias("is_anomaly"),
    )


PATH_MIN_COUNT = 5


@register(
    "events_top_paths",
    tags=("events", "sequence", "window"),
    oracle=f"""
WITH tri AS (
    SELECT event_type AS s1,
           lead(event_type, 1) OVER uw AS s2,
           lead(event_type, 2) OVER uw AS s3
    FROM events
    WINDOW uw AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT s1, s2, s3, CAST(count(*) AS BIGINT) AS n_paths
FROM tri
WHERE s2 IS NOT NULL AND s3 IS NOT NULL
GROUP BY s1, s2, s3
HAVING count(*) >= {PATH_MIN_COUNT}
""",
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey path mining: the frequent 3-step event-type
    sequences in each user's ordered event stream — the discovery
    counterpart to the pairwise ``events_transition_matrix`` (paths
    answer "what do users actually do", funnels then test a
    hypothesis). Trigram extraction is two ``lead`` calls over the
    per-user window — NO per-user array collection, so a
    million-event user costs the same per row as a light one. To
    scope paths to sessions instead, add the ``events_sessionize``
    session_seq to the window partition key (this corpus's sessions
    are near-singletons — 9,549 sessions over 10,000 events at gate
    scale — so the user stream is the meaningful unit here).

    One shuffle on user_id serves the leads; the count aggregate
    shuffles (type^3)-bounded rows with map-side combine, and the
    min-count floor keeps output vocabulary-scaled.
    """
    ev = load_table(spark, sf_dir, "events")
    uw = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = ev.select(
        F.col("event_type").alias("s1"),
        F.lead("event_type", 1).over(uw).alias("s2"),
        F.lead("event_type", 2).over(uw).alias("s3"),
    )
    return (
        tri.filter(F.col("s2").isNotNull() & F.col("s3").isNotNull())
        .groupBy("s1", "s2", "s3")
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .filter(F.col("n_paths") >= PATH_MIN_COUNT)
    )


# --- Skewed-key join with explicit salting ---------------------------

SKEW_SALTS = 8


@register(
    "join_salted_skew",
    tags=("join", "skew", "scale"),
    oracle="""
WITH f AS (
    SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
    FROM events
), dim AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_type,
           CAST(sum(cents) AS BIGINT) AS type_cents
    FROM f GROUP BY 1
)
SELECT f.event_type,
       -- HUGEINT: the per-row product wraps BIGINT once one event's
       -- cents exceed 2^63/n_type (~$460k at 2e11 rows/type)
       (f.cents::HUGEINT * d.n_type > d.type_cents) AS above_avg,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(f.cents) AS BIGINT) AS sum_cents
FROM f JOIN dim d ON d.event_type = f.event_type
GROUP BY 1, 2
""",
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewed-key equi-join routed through explicit salting, gate-
    proven equal to the plain join: events has only FIVE distinct
    ``event_type`` values (~N/5 rows each — the pathological case
    where every shuffle partition but five is empty and five tasks
    carry the whole fact table), and this query joins the fact stream
    to a per-type dim through ``salted_join`` (functions/skew.py),
    which widens the shuffle key to (event_type, salt) — 5 hot
    partitions become 5 * SKEW_SALTS even ones — and replicates the
    5-row dim once per salt. The oracle is the UNSALTED join, so the
    gate asserts the transformation is invisible to results.

    Each event is flagged above/below its type's mean value in exact
    integer arithmetic (cents * n > sum_cents — no division), then
    rolled up per (type, flag). At THIS dim size Catalyst would
    broadcast and no salting would be needed; the pattern gates here
    so it is proven for the real case — a dim above the broadcast
    threshold joined on a hot key, where AQE's skew split cannot help
    because the downstream aggregation re-partitions on the same key
    (see functions/skew.py for when AQE suffices instead).
    """
    from go_integ_spark.functions.skew import salted_join

    ev = load_table(spark, sf_dir, "events")
    fact = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    dim = fact.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_type"),
        F.sum("cents").alias("type_cents"),
    )
    joined = salted_join(fact, dim, on=["event_type"], num_salts=SKEW_SALTS)
    return (
        # decimal product (oracle twin: HUGEINT) — int64 wraps once
        # one event's cents pass 2^63/n_type (~$460k at 2e11
        # rows/type); value is unvalidated app data (r7 review)
        joined.withColumn(
            "above_avg",
            F.col("cents").cast("decimal(38,0)") * F.col("n_type")
            > F.col("type_cents").cast("decimal(38,0)"),
        )
        .groupBy("event_type", "above_avg")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("sum_cents"),
        )
    )


# --- Rolling-window distinct users (DAU / WAU) -----------------------

WAU_WINDOW_DAYS = 7

# Sketch envelope for the HLL rolling-distinct form: HLL++ at
# rsd=0.01 sits well inside 2% on the gate corpora (small daily
# cardinalities are served by the exact sparse encoding); the
# boolean column makes the driver gate VERIFY the envelope, the
# agg_sketch_accuracy pattern.
HLL_WAU_RSD = 0.01
HLL_WAU_ENVELOPE = 0.02


@register(
    "window_rolling_distinct_hll",
    tags=("window", "events", "distinct", "sketch", "approx"),
    oracle=f"""
WITH du AS (
    SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
    FROM events
), days AS (
    SELECT DISTINCT day FROM du
), contrib AS (
    SELECT du.user_id, du.day + CAST(t.i AS INTEGER) AS day
    FROM du, unnest(generate_series(0, {WAU_WINDOW_DAYS - 1})) AS t(i)
), wau AS (
    SELECT c.day, CAST(count(DISTINCT c.user_id) AS BIGINT) AS wau
    FROM contrib c SEMI JOIN days d ON d.day = c.day
    GROUP BY 1
), dau AS (
    SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
    FROM du GROUP BY 1
)
SELECT d.day, d.dau, w.wau, TRUE AS wau_hll_ok
FROM dau d JOIN wau w ON w.day = d.day
""",
)
def window_rolling_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-window distinct counting — DAU and trailing-7-day WAU
    per day, the engagement denominator every product-metrics stack
    computes. Distinct-over-a-sliding-window does NOT decompose like
    a sum (a user active on 3 of the 7 days must count once), so no
    window-frame aggregate applies.

    Scale shape: the CONTRIBUTION-EXPLODE formulation — each distinct
    (day, user) row is exploded to the {WAU_WINDOW_DAYS} window-end days it
    contributes to, then one distinct count per day — instead of a
    day-to-range join: the range join's build side is all of du for
    every day (quadratic in the window when expressed as a
    BroadcastNestedLoopJoin), while the explode is row-local with a
    fixed x{WAU_WINDOW_DAYS} fanout and shuffles only (day, user_id) pairs.
    The trailing semi-join against observed days (broadcast — one row
    per calendar day) trims phantom window-ends past the data's edge.

    The 100 TB form of the per-day distinct is a HyperLogLog++ sketch
    (``approx_count_distinct``), whose fixed-size registers merge
    across the map-side partial aggregation — no per-day hash table
    of distinct user ids at any scale. The exact count rides the same
    single aggregation pass, is returned as ``wau``, and measures the
    sketch: the returned boolean asserts the estimate landed inside
    the 2% envelope — so the driver's value gate verifies the error
    bound itself (the ``agg_sketch_accuracy`` pattern; a property
    test additionally sweeps the envelope at both gate SFs)."""
    ev = load_table(spark, sf_dir, "events")
    du = (
        ev.select(F.to_date(F.date_trunc("day", "ts")).alias("day"), "user_id")
        .distinct()
    )
    days = du.select("day").distinct()
    contrib = du.select(
        "user_id",
        F.explode(
            F.expr(f"sequence(day, date_add(day, {WAU_WINDOW_DAYS - 1}))")
        ).alias("day"),
    )
    wau = (
        contrib.join(F.broadcast(days), "day", "left_semi")
        .groupBy("day")
        .agg(
            F.count_distinct("user_id").alias("wau"),
            F.approx_count_distinct("user_id", HLL_WAU_RSD).alias("wau_hll"),
        )
    )
    dau = du.groupBy("day").agg(F.count_distinct("user_id").alias("dau"))
    return dau.join(wau, "day").select(
        "day",
        "dau",
        "wau",
        (
            F.abs(F.col("wau_hll") - F.col("wau"))
            <= HLL_WAU_ENVELOPE * F.col("wau")
        ).alias("wau_hll_ok"),
    )


@register(
    "events_unpivot_metrics",
    tags=("unpivot", "agg"),
    oracle="""
WITH wide AS (
    SELECT user_id,
           CAST(count(*) AS DOUBLE)                  AS n_events,
           round(sum(value), 2)                      AS total_value,
           CAST(count(DISTINCT event_type) AS DOUBLE) AS n_types
    FROM events
    WHERE user_id < 100
    GROUP BY user_id
)
SELECT user_id, metric, metric_value FROM (
    SELECT user_id, 'n_events'    AS metric, n_events    AS metric_value
    FROM wide
    UNION ALL
    SELECT user_id, 'total_value' AS metric, total_value AS metric_value
    FROM wide
    UNION ALL
    SELECT user_id, 'n_types'     AS metric, n_types     AS metric_value
    FROM wide
)
""",
)
def events_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long melt via the native ``DataFrame.unpivot``
    (= SQL UNPIVOT / pandas melt) — the inverse of
    ``events_pivot_type_counts``: a per-user wide metrics frame is
    unpivoted into (user_id, metric, metric_value) long form, the
    layout metric stores and plotting layers ingest.

    ``unpivot`` is a zero-shuffle Expand projection (each input row
    fans out to one row per value column map-side) — the plan is one
    aggregation exchange for the wide frame, then Expand; the oracle
    spells the same melt as UNION ALL, which is what engines without
    UNPIVOT run. Value columns are cast to a common double type
    (melt requires one value type; exact integer counts < 2^53 are
    lossless in doubles, and total_value is already 2dp-rounded).
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    wide = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("double").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.countDistinct("event_type").cast("double").alias("n_types"),
    )
    return wide.unpivot(
        ids=["user_id"],
        values=["n_events", "total_value", "n_types"],
        variableColumnName="metric",
        valueColumnName="metric_value",
    )


@register(
    "events_user_lifetime",
    tags=("events", "agg"),
    oracle="""
SELECT user_id,
       min(ts) AS first_seen,
       max(ts) AS last_seen,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT)
           AS n_purchases,
       CAST((epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS BIGINT)
           AS span_sec,
       CAST((count(*)::HUGEINT * 100 * 86400000000)
            // greatest(epoch_us(max(ts)) - epoch_us(min(ts)), 1) AS BIGINT)
           AS events_per_day_centi
FROM events
GROUP BY user_id
""",
)
def events_user_lifetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lifetime summary: first/last activity, event and
    purchase counts, active span, and activity rate (events per day,
    exact integer centi-units over the microsecond span — no float
    crosses the engine boundary).

    Scale shape: ONE map-side-combined aggregation over the events
    scan; every derived column is algebra over the five partial
    aggregates, so the shuffle carries (user_id, 2 timestamps,
    2 counters) regardless of per-user event counts.
    """
    ev = load_table(spark, sf_dir, "events")
    span_us = F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))
    return ev.groupBy("user_id").agg(
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("n_purchases"),
        (span_us / F.lit(1000000)).cast("bigint").alias("span_sec"),
        # decimal numerator (oracle twin: HUGEINT): the int64 product
        # count*100*86400e6 wraps at ~1.07M events per user — exactly
        # the bot keys events_bot_gap_regularity hunts (r7 review)
        F.expr(
            "cast(cast(count(1) as decimal(38,0)) * 100 * 86400000000 div "
            "greatest(unix_micros(max(ts)) - unix_micros(min(ts)), 1) "
            "as bigint)"
        ).alias("events_per_day_centi"),
    )


@register(
    "events_markov_next",
    tags=("events", "window", "markov"),
    oracle="""
WITH seq AS (
    SELECT user_id, event_type,
           lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS prev_type
    FROM events
), tr AS (
    SELECT prev_type, event_type AS next_type, count(*) AS n
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
), tot AS (
    SELECT prev_type, sum(n) AS nt FROM tr GROUP BY prev_type
)
SELECT t.prev_type,
       mx.next_type AS top_next_type,
       CAST(mx.n AS BIGINT) AS n_top,
       CAST(t.nt AS BIGINT) AS n_total,
       CAST((mx.n * 10000) // t.nt AS BIGINT) AS p_bp
FROM tot t
JOIN (
    SELECT prev_type, next_type, n FROM (
        SELECT *, row_number() OVER (
            PARTITION BY prev_type ORDER BY n DESC, next_type) AS rn
        FROM tr
    ) WHERE rn = 1
) mx ON mx.prev_type = t.prev_type
""",
)
def events_markov_next(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-likely next event per event type — the argmax row of the
    first-order Markov transition matrix, with its exact
    basis-point probability. The session-flow table a product
    funnel review starts from.

    Scale shape: the per-user lag window shares the transition
    matrix's (user_id) partitioning; transitions then collapse to at
    most |types|^2 cells, and the argmax + total run in ONE
    aggregation over those cells (``max(struct(n, rev(next)))``
    against a summed total — no second pass over the sequence data).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.col("event_type").alias("next_type"),
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    tr = seq.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    # One pass over the tiny cell frame: total + argmax together.
    # min_by over (-n, next_type) is the argmax with the oracle's
    # exact tie-break (highest count, then lexicographically lowest
    # next_type) — no window, no second aggregation.
    agg = tr.groupBy("prev_type").agg(
        F.sum("n").cast("bigint").alias("n_total"),
        F.min_by(
            F.struct(
                F.col("next_type").alias("next_type"),
                F.col("n").alias("n"),
            ),
            F.struct(
                (-F.col("n")).alias("neg_n"),
                F.col("next_type").alias("next_type"),
            ),
        ).alias("mx"),
    )
    return agg.select(
        "prev_type",
        F.col("mx.next_type").alias("top_next_type"),
        F.col("mx.n").cast("bigint").alias("n_top"),
        "n_total",
        F.expr("cast(mx.n * 10000 div n_total as bigint)").alias("p_bp"),
    )


# --- bounded-horizon EWMA ---------------------------------------------

# alpha = 1/2, truncated at 8 taps: weights 128,64,...,1 (pandas
# ewm(alpha=0.5, adjust=True) over the trailing window). 8 halvings
# leave < 0.4% of the mass beyond the horizon, and the fixed tap
# count is what makes the smoother exact: integer weights, one
# floor division at the end.
EWMA_TAPS = 8
_EWMA_WEIGHTS = [1 << (EWMA_TAPS - 1 - j) for j in range(EWMA_TAPS)]


def _ewma_oracle() -> str:
    lags = ",\n           ".join(
        f"lag(vu, {j}) OVER w AS v{j}" for j in range(1, EWMA_TAPS)
    )
    num = " + ".join(
        [f"vu * {_EWMA_WEIGHTS[0]}"]
        + [f"coalesce(v{j} * {_EWMA_WEIGHTS[j]}, 0)" for j in range(1, EWMA_TAPS)]
    )
    den = " + ".join(
        [str(_EWMA_WEIGHTS[0])]
        + [
            f"CASE WHEN v{j} IS NULL THEN 0 ELSE {_EWMA_WEIGHTS[j]} END"
            for j in range(1, EWMA_TAPS)
        ]
    )
    n_win = " + ".join(
        ["1"]
        + [f"CASE WHEN v{j} IS NULL THEN 0 ELSE 1 END" for j in range(1, EWMA_TAPS)]
    )
    return f"""
WITH v AS (
    SELECT event_id, user_id, ts,
           CAST(floor(value * 1000000) AS BIGINT) AS vu
    FROM events
), l AS (
    SELECT event_id, user_id, vu,
           {lags}
    FROM v
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_id, user_id, vu AS v_micro,
       CAST({n_win} AS INT) AS n_window,
       CAST(({num}) // ({den}) AS BIGINT) AS ewma_micro
FROM l
"""


@register(
    "window_ewma_value",
    tags=("window", "events", "smoothing"),
    oracle=_ewma_oracle(),
)
def window_ewma_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of event value
    (alpha = 1/2) — the standard smoother behind rate limiters,
    anomaly baselines, and engagement scores — made engine-exact by
    truncating at {EWMA_TAPS} taps: each value is quantized ONCE to
    int64 micro-units (floor of an exactly-rounded IEEE product, so
    both engines agree bit-for-bit), then the smoother is a dot
    product with integer weights 128..1 over the present lags and a
    single floor division. The true infinite-horizon EWMA differs by
    < 0.4% of the oldest mass; what's gained is that no float
    recurrence ever crosses the engine boundary. Values here are
    non-negative, so floor division and Spark's truncating ``div``
    agree; a signed-value deployment would bias num by +den/2 first.

    Scale shape: ONE exchange on user_id; all {EWMA_TAPS} lags share
    the single window spec (one Window operator, one sort), and the
    arithmetic is row-local JVM codegen. State per partition is the
    {EWMA_TAPS}-row frame — O(1), unlike an unbounded running
    recurrence which cannot be expressed as a frame at all.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    vu = F.expr("cast(floor(value * 1000000) as bigint)")
    df = ev.select("event_id", "user_id", "ts", vu.alias("vu"))
    for j in range(1, EWMA_TAPS):
        df = df.withColumn(f"v{j}", F.lag("vu", j).over(w))
    num = F.col("vu") * _EWMA_WEIGHTS[0]
    den = F.lit(_EWMA_WEIGHTS[0])
    n_win = F.lit(1)
    for j in range(1, EWMA_TAPS):
        present = F.col(f"v{j}").isNotNull()
        num = num + F.coalesce(F.col(f"v{j}") * _EWMA_WEIGHTS[j], F.lit(0))
        den = den + F.when(present, F.lit(_EWMA_WEIGHTS[j])).otherwise(F.lit(0))
        n_win = n_win + F.when(present, 1).otherwise(0)
    return (
        df.withColumn("num_c", num)
        .withColumn("den_c", den)
        .select(
            "event_id",
            "user_id",
            F.col("vu").alias("v_micro"),
            n_win.cast("int").alias("n_window"),
            F.expr("cast(num_c div den_c as bigint)").alias("ewma_micro"),
        )
    )


if window_ewma_value.__doc__:  # absent under PYTHONOPTIMIZE=2
    window_ewma_value.__doc__ = window_ewma_value.__doc__.replace(
        "{EWMA_TAPS}", str(EWMA_TAPS)
    )


# --- automated-traffic detection --------------------------------------

# A user whose inter-event gaps keep landing in the SAME minute-wide
# bucket is machine-scheduled: organic gaps spread across buckets
# (the gate corpus tops out ~5% modal share), cron-like traffic
# concentrates (a strict scheduler approaches 100%). Thresholds:
BOT_MIN_GAPS = 20  # don't judge users with too little history
BOT_SHARE_BP = 2000  # >= 20% of gaps in one minute bucket
BOT_GAP_UNIT_US = 60_000_000  # minute quantization


@register(
    "events_bot_gap_regularity",
    tags=("events", "window", "quality"),
    oracle=f"""
WITH g AS (
    SELECT user_id,
           (epoch_us(ts) - epoch_us(lag(ts) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
            ))) // {BOT_GAP_UNIT_US} AS gm
    FROM events
), c AS (
    SELECT user_id, gm, CAST(count(*) AS BIGINT) AS n
    FROM g WHERE gm IS NOT NULL GROUP BY 1, 2
), top AS (
    SELECT user_id, gm, n FROM (
        SELECT user_id, gm, n,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY n DESC, gm
               ) AS rn
        FROM c
    ) WHERE rn = 1
)
SELECT c.user_id,
       CAST(sum(c.n) AS BIGINT) AS n_gaps,
       CAST(min(t.gm) AS BIGINT) AS modal_gap_min,
       CAST(min(t.n) AS BIGINT) AS n_modal,
       CAST(min(t.n) * 10000 // sum(c.n) AS BIGINT) AS modal_share_bp,
       (sum(c.n) >= {BOT_MIN_GAPS}
        AND min(t.n) * 10000 // sum(c.n) >= {BOT_SHARE_BP}) AS bot_like
FROM c JOIN top t USING (user_id)
GROUP BY c.user_id
""",
)
def events_bot_gap_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Machine-traffic detection by inter-event gap regularity: a
    user whose gaps keep landing in the same minute-wide bucket is
    scheduler-driven, not human — the pre-training event-stream
    analogue of the crawler/bot filters web corpora run before any
    content reaches a mix. Emits each user's modal gap bucket and
    its exact basis-point share of all gaps, plus the verdict at
    >= {BOT_SHARE_BP} bp over >= {BOT_MIN_GAPS} gaps (the organic
    gate corpus flags nobody — its modal shares top out around 500
    bp; the injected-scheduler fixture test proves the flag fires).

    Exactness: gaps quantize to integer minute buckets via floor
    division of the microsecond difference; counts, the min_by
    argmax (count-desc, bucket-asc tie-break), and the share are
    pure int64 — nothing rounds.

    Scale shape: the lag window and the (user, bucket) count share
    the user-keyed exchange prefix; bucket cells collapse to at most
    |users| x |distinct buckets| rows, and the final per-user argmax
    + total ride ONE aggregation over those cells (min_by against a
    summed total — the events_markov_next shape, keyed by user).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        F.expr(
            f"(unix_micros(ts) - unix_micros(lag(ts) over ("
            f"partition by user_id order by ts, event_id)))"
            f" div {BOT_GAP_UNIT_US}"
        ).alias("gm"),
    ).filter(F.col("gm").isNotNull())
    cells = gaps.groupBy("user_id", "gm").agg(F.count(F.lit(1)).alias("n"))
    agg = cells.groupBy("user_id").agg(
        F.sum("n").cast("bigint").alias("n_gaps"),
        F.min_by(
            F.struct(F.col("gm").alias("gm"), F.col("n").alias("n")),
            F.struct((-F.col("n")).alias("neg_n"), F.col("gm").alias("gm")),
        ).alias("mx"),
    )
    share = F.expr("cast(mx.n * 10000 div n_gaps as bigint)")
    return agg.select(
        "user_id",
        "n_gaps",
        F.col("mx.gm").cast("bigint").alias("modal_gap_min"),
        F.col("mx.n").cast("bigint").alias("n_modal"),
        share.alias("modal_share_bp"),
        ((F.col("n_gaps") >= BOT_MIN_GAPS) & (share >= BOT_SHARE_BP)).alias(
            "bot_like"
        ),
    )


if events_bot_gap_regularity.__doc__:  # absent under PYTHONOPTIMIZE=2
    events_bot_gap_regularity.__doc__ = (
        events_bot_gap_regularity.__doc__
        .replace("{BOT_SHARE_BP}", str(BOT_SHARE_BP))
        .replace("{BOT_MIN_GAPS}", str(BOT_MIN_GAPS))
    )


# --- linear multi-touch attribution -----------------------------------

ATTR_WINDOW_DAYS = 7
_ATTR_WIN_US = ATTR_WINDOW_DAYS * 86400 * 1_000_000
_ATTR_BIN_US = 86400 * 1_000_000  # daily bins for the range join


@register(
    "events_attribution_linear",
    tags=("events", "join", "attribution"),
    oracle=f"""
WITH p AS (
    SELECT event_id AS p_id, user_id, ts AS p_ts,
           CAST(floor(value * 1000000) AS BIGINT) AS v_micro
    FROM events WHERE event_type = 'purchase'
), c AS (
    SELECT event_id AS c_id, user_id, ts AS c_ts
    FROM events WHERE event_type = 'click'
), pairs AS (
    SELECT p.p_id, c.c_id, p.user_id, p.v_micro
    FROM p JOIN c ON c.user_id = p.user_id
       AND epoch_us(c.c_ts) > epoch_us(p.p_ts) - {_ATTR_WIN_US}
       AND epoch_us(c.c_ts) <= epoch_us(p.p_ts)
), sized AS (
    SELECT *, CAST(count(*) OVER (PARTITION BY p_id) AS BIGINT) AS n_touch
    FROM pairs
)
SELECT p_id, c_id, user_id, n_touch,
       CAST(v_micro // n_touch AS BIGINT) AS credit_micro
FROM sized
""",
)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every click in the
    {ATTR_WINDOW_DAYS} days before a purchase shares the purchase
    value equally — the third standard attribution model next to the
    last-touch (backward as-of) and next-touch (forward as-of)
    queries. Emits one row per (purchase, contributing click) with
    the touch count and the exact per-click credit (purchase value
    quantized once to int64 micro-units, one floor division).

    Scale shape: the time-window join is the binned range join —
    purchases explode to the {ATTR_WINDOW_DAYS + 1} daily bins their
    window overlaps, clicks map to exactly one bin, and the join is a
    plain shuffled equi-join on (user_id, bin) with the exact window
    predicate filtering inside matched bins (no per-pair range scan,
    no nested loop). The touch count rides one window over the pair
    table partitioned by purchase. Output is bounded by true
    (purchase, click) co-occurrence within the window.
    """
    ev = load_table(spark, sf_dir, "events")
    v_micro = F.expr("cast(floor(value * 1000000) as bigint)")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        F.unix_micros("ts").alias("p_us"),
        v_micro.alias("v_micro"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user"),
        F.unix_micros("ts").alias("c_us"),
    )
    pb = p.withColumn(
        "bin",
        F.explode(
            F.sequence(
                ((F.col("p_us") - F.lit(_ATTR_WIN_US)) / F.lit(_ATTR_BIN_US)).cast("long"),
                (F.col("p_us") / F.lit(_ATTR_BIN_US)).cast("long"),
            )
        ),
    )
    cb = c.withColumn("bin", (F.col("c_us") / F.lit(_ATTR_BIN_US)).cast("long"))
    pairs = pb.join(
        cb,
        (F.col("user_id") == F.col("c_user")) & (pb["bin"] == cb["bin"]),
    ).filter(
        (F.col("c_us") > F.col("p_us") - F.lit(_ATTR_WIN_US))
        & (F.col("c_us") <= F.col("p_us"))
    )
    w = Window.partitionBy("p_id")
    return pairs.select(
        "p_id", "c_id", "user_id", "v_micro"
    ).withColumn("n_touch", F.count(F.lit(1)).over(w).cast("bigint")).select(
        "p_id",
        "c_id",
        "user_id",
        "n_touch",
        F.expr("cast(v_micro div n_touch as bigint)").alias("credit_micro"),
    )


if events_attribution_linear.__doc__:  # absent under PYTHONOPTIMIZE=2
    events_attribution_linear.__doc__ = (
        events_attribution_linear.__doc__
        .replace("{ATTR_WINDOW_DAYS + 1}", str(ATTR_WINDOW_DAYS + 1))
        .replace("{ATTR_WINDOW_DAYS}", str(ATTR_WINDOW_DAYS))
    )


# --- session-level statistics -----------------------------------------

SESSION_GAP_SEC = 1800  # same 30-minute inactivity rule as sessionize


@register(
    "events_session_stats",
    tags=("events", "window", "sessionize"),
    oracle=f"""
WITH gaps AS (
    SELECT user_id, ts, event_id, event_type, value,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                     > {SESSION_GAP_SEC * 1_000_000}
                THEN 1 ELSE 0 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
    SELECT user_id, ts, event_id, event_type, value,
           sum(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS session_seq
    FROM gaps
)
SELECT user_id,
       CAST(session_seq AS BIGINT) AS session_seq,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST((epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS BIGINT)
           AS duration_sec,
       CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT)
           AS n_purchases,
       CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
           AS value_micro
FROM s
GROUP BY user_id, session_seq
""",
)
def events_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-LEVEL rollup — the table one layer below
    ``events_sessionize``'s per-user counts: every session's event
    count, wall-clock duration, purchase count, and exact total value
    (micro-units), keyed (user, session_seq). This is the grain
    engagement and conversion analytics actually query ("median
    session length", "purchase rate per session"), and the downstream
    feed for events_rfm-style scoring.

    Scale shape: the same one exchange on user_id serves the lag
    window, the cumulative session numbering, AND the final
    (user, session) aggregation — Catalyst reuses the partitioning,
    so corpus rows move once. Session ids are per-user cumulative
    sums (deterministic total order), identical in both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    is_new = F.when(
        gap_us.isNull() | (gap_us > SESSION_GAP_SEC * 1_000_000), 1
    ).otherwise(0)
    s = ev.withColumn("is_new", is_new).withColumn(
        "session_seq", F.sum("is_new").over(wcum)
    )
    return s.groupBy(
        "user_id", F.col("session_seq").cast("bigint").alias("session_seq")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        (
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
            / F.lit(1_000_000)
        )
        .cast("bigint")
        .alias("duration_sec"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("n_purchases"),
        F.sum(F.expr("cast(floor(value * 1000000) as bigint)"))
        .cast("bigint")
        .alias("value_micro"),
    )


# ---------------------------------------------------------------------------
# CUSUM mean-shift changepoint detection (Page 1954) over the
# gap-filled hourly series. Everything downstream of the hourly
# rollup is INTEGER math so both engines produce bit-identical
# cumulative statistics (float prefix sums would hash-diverge on
# summation order — the fixed-point discipline events_session_stats
# uses for value_micro):
#
#   H        = hours on the spine (same for every type),
#   dev_t    = H*n_t - total            (= H*(n_t - mean), exact),
#   sig_h    = sqrt(H*sum(n^2) - total^2)  (= H*sigma_pop; sqrt is
#              IEEE-correctly-rounded, so identical across engines),
#   slack    = floor(sig_h / 2)         (k = sigma/2 allowance),
#   P_t      = prefix_sum(dev_t - slack),
#   cusum+_t = P_t - min(P_1..P_t)      (the max(0, ...) recursion
#              rewritten as prefix-sum minus running minimum — the
#              standard window-expressible form),
#   and symmetrically cusum- from Q_t = prefix_sum(dev_t + slack).
#
# A shift is flagged when either side exceeds 4*sigma (scaled:
# floor(4*sig_h)). Reported cusum columns are descaled (/H) and
# rounded for reading; the FLAG is computed on the raw integers.
CUSUM_SLACK_DEN = 2  # allowance k = sigma / 2
CUSUM_H_MULT = 4  # decision threshold h = 4 * sigma

CUSUM_ORACLE = f"""
WITH bounds AS (
    SELECT date_trunc('hour', min(ts)) AS lo,
           date_trunc('hour', max(ts)) AS hi
    FROM events
), spine AS (
    SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_start
    FROM bounds
), types AS (
    SELECT unnest({list(EVENT_TYPES)}) AS event_type
), counts AS (
    SELECT date_trunc('hour', ts) AS hour_start, event_type,
           count(*) AS c
    FROM events GROUP BY 1, 2
), hourly AS (
    SELECT s.hour_start, t.event_type,
           CAST(coalesce(c.c, 0) AS BIGINT) AS n
    FROM spine s
    CROSS JOIN types t
    LEFT JOIN counts c
      ON c.hour_start = s.hour_start AND c.event_type = t.event_type
), stats AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS h_n,
           CAST(sum(n) AS BIGINT) AS total,
           CAST(sum(n * n) AS BIGINT) AS ssq
    FROM hourly GROUP BY event_type
), scaled AS (
    SELECT h.hour_start, h.event_type, h.n, s.h_n,
           h.n * s.h_n - s.total AS dev,
           CAST(floor(sqrt(CAST(s.h_n * s.ssq - s.total * s.total AS DOUBLE))
                      / {CUSUM_SLACK_DEN}) AS BIGINT) AS slack,
           CAST(floor({CUSUM_H_MULT} *
                      sqrt(CAST(s.h_n * s.ssq - s.total * s.total AS DOUBLE)))
                AS BIGINT) AS thresh
    FROM hourly h JOIN stats s USING (event_type)
), walks AS (
    SELECT *,
           sum(dev - slack) OVER w AS p,
           sum(dev + slack) OVER w AS q
    FROM scaled
    WINDOW w AS (PARTITION BY event_type ORDER BY hour_start
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), cusum AS (
    -- the running extremum must include the EMPTY prefix (P_0 = 0):
    -- max(0, S) clamping is what least/greatest-with-0 encodes
    SELECT *,
           p - least(CAST(0 AS BIGINT), min(p) OVER w) AS cpos,
           greatest(CAST(0 AS BIGINT), max(q) OVER w) - q AS cneg
    FROM walks
    WINDOW w AS (PARTITION BY event_type ORDER BY hour_start
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT hour_start, event_type, n,
       round(CAST(cpos AS DOUBLE) / h_n, 4) AS cusum_pos,
       round(CAST(cneg AS DOUBLE) / h_n, 4) AS cusum_neg,
       (cpos > thresh OR cneg > thresh) AS is_shift
FROM cusum
"""


@register(
    "events_changepoint_cusum",
    tags=("events", "window", "changepoint"),
    oracle=CUSUM_ORACLE,
)
def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM mean-shift detection per event type.

    Plan shape: the corpus is touched exactly twice (bounds, hourly
    rollup — both map-side combined, the gapfill precedent); the
    spine frame is hours x types, so the per-type global stats are a
    tiny aggregate broadcast back, and the two window passes (prefix
    sums, then running extrema over them) share ONE sort within one
    Window chain — no extra exchange. At 100 TB the only
    corpus-sized op is still the first rollup; the CUSUM walk runs
    over the hours-x-types frame, which a millennium of hourly data
    keeps under ten million rows. (int64 headroom: dev is
    hours x peak-hourly-count — at 1e5 hours and 1e9 events/hour the
    prefix sums reach ~1e19; beyond that, bucket to days or switch
    the walk columns to DECIMAL(38,0).)
    """
    from go_integ_spark.functions.cache import cached_persist

    ev = load_table(spark, sf_dir, "events")
    # hourly feeds the stats subtree AND the walk join; without a
    # persist each lineage re-runs the corpus scan + rollup (the
    # anomaly_hourly precedent — the persisted frame is hours x types)
    hourly = cached_persist(
        "cusum_hourly", ev, lambda: hourly_gapfill(spark, sf_dir)
    )
    return cusum_from_hourly(hourly)


def cusum_from_hourly(hourly: DataFrame) -> DataFrame:
    """The CUSUM walk over a gap-filled (hour_start, event_type, n)
    frame — shared by the batch operator and the streaming twin (the
    flag_mad_anomalies precedent): the input frame is hours x types,
    so everything here is vocabulary-of-time-sized."""
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("h_n"),
        F.sum("n").cast("bigint").alias("total"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("ssq"),
    )
    var_num = F.col("h_n") * F.col("ssq") - F.col("total") * F.col("total")
    sig_h = F.sqrt(var_num.cast("double"))
    scaled = (
        hourly.join(F.broadcast(stats), "event_type")
        .withColumn("dev", F.col("n") * F.col("h_n") - F.col("total"))
        .withColumn(
            "slack", F.floor(sig_h / F.lit(CUSUM_SLACK_DEN)).cast("bigint")
        )
        .withColumn(
            "thresh", F.floor(F.lit(CUSUM_H_MULT) * sig_h).cast("bigint")
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    walks = scaled.withColumn(
        "p", F.sum(F.col("dev") - F.col("slack")).over(w)
    ).withColumn("q", F.sum(F.col("dev") + F.col("slack")).over(w))
    # running extremum over the prefix INCLUDING the empty prefix
    # (P_0 = 0) — without the 0 clamp the first rows of each side
    # lose the max(0, .) reflection of Page's recursion
    zero = F.lit(0).cast("bigint")
    cusum = walks.withColumn(
        "cpos", F.col("p") - F.least(zero, F.min("p").over(w))
    ).withColumn("cneg", F.greatest(zero, F.max("q").over(w)) - F.col("q"))
    return cusum.select(
        "hour_start",
        "event_type",
        "n",
        F.round(F.col("cpos").cast("double") / F.col("h_n"), 4).alias("cusum_pos"),
        F.round(F.col("cneg").cast("double") / F.col("h_n"), 4).alias("cusum_neg"),
        ((F.col("cpos") > F.col("thresh")) | (F.col("cneg") > F.col("thresh"))).alias(
            "is_shift"
        ),
    )


def gapfill_counts(spark: SparkSession, counts: DataFrame) -> DataFrame:
    """Gap-fill an already-aggregated (hour_start, event_type, n)
    rollup onto the dense hour x type spine. Bounds come from the
    rollup itself — min/max observed hour_start equal
    date_trunc('hour', min/max(ts)) because every event lands in an
    observed hour — so the corpus is never re-scanned (the streaming
    twin's rollup arrives from the state store, not a table)."""
    bounds = counts.agg(
        F.min("hour_start").alias("lo"), F.max("hour_start").alias("hi")
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias(
            "hour_start"
        )
    )
    types = spark.createDataFrame(
        [(t,) for t in EVENT_TYPES], schema="event_type string"
    )
    return (
        spine.crossJoin(types)
        .join(
            counts.withColumnRenamed("n", "c"),
            ["hour_start", "event_type"],
            "left",
        )
        .select(
            "hour_start",
            "event_type",
            F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("n"),
        )
    )


# Seasonal-naive forecast backtest: the sanity baseline every
# forecasting pipeline must beat (M-competition practice). Horizon-1
# walk-forward over the gap-filled hourly series; errors are integer
# |n_t - n_{t-lag}| so every aggregate is a rational of integers and
# both engines round the same doubles.
SEASONAL_LAG_H = 168  # one week of hours
FORECAST_EVAL_ORACLE = f"""
WITH bounds AS (
    SELECT date_trunc('hour', min(ts)) AS lo,
           date_trunc('hour', max(ts)) AS hi
    FROM events
), spine AS (
    SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_start
    FROM bounds
), types AS (
    SELECT unnest({list(EVENT_TYPES)}) AS event_type
), counts AS (
    SELECT date_trunc('hour', ts) AS hour_start, event_type,
           count(*) AS c
    FROM events GROUP BY 1, 2
), hourly AS (
    SELECT s.hour_start, t.event_type,
           CAST(coalesce(c.c, 0) AS BIGINT) AS n
    FROM spine s
    CROSS JOIN types t
    LEFT JOIN counts c
      ON c.hour_start = s.hour_start AND c.event_type = t.event_type
), lagged AS (
    SELECT *,
           lag(n, 1) OVER w AS n_lag1,
           lag(n, {SEASONAL_LAG_H}) OVER w AS n_lag_season
    FROM hourly
    WINDOW w AS (PARTITION BY event_type ORDER BY hour_start)
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_hours,
       round(avg(CAST(abs(n - n_lag1) AS DOUBLE)), 4) AS mae_naive,
       round(avg(CAST(abs(n - n_lag_season) AS DOUBLE)), 4) AS mae_snaive,
       round(sum(CAST(abs(n - n_lag_season) AS DOUBLE))
             / nullif(sum(CAST(abs(n - n_lag1) AS DOUBLE)), 0), 4)
           AS mase
FROM lagged
WHERE n_lag_season IS NOT NULL
GROUP BY event_type
"""


@register(
    "events_forecast_eval",
    tags=("events", "window", "forecast"),
    oracle=FORECAST_EVAL_ORACLE,
)
def events_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward backtest of the two canonical baselines — naive
    (last hour) and seasonal-naive (same hour last week) — per event
    type, with MASE (seasonal MAE over naive MAE) as the skill score.
    The eval a forecasting deployment runs before trusting any model:
    a model that can't beat seasonal-naive is noise.

    Plan shape: same discipline as the CUSUM walk — the corpus is
    touched only by the map-side-combined rollup; lags and error
    aggregates run on the hours x types frame (one window sort, one
    tiny groupBy). Both lags come from ONE window pass. Errors are
    integer |n_t - n_{t-lag}|, so the reported doubles are rationals
    of integers rounded identically on both engines. Evaluation is
    restricted to hours where the seasonal predecessor exists (same
    denominator for both baselines — a fair comparison window).
    """
    from go_integ_spark.functions.cache import cached_persist

    ev = load_table(spark, sf_dir, "events")
    hourly = cached_persist(
        "cusum_hourly", ev, lambda: hourly_gapfill(spark, sf_dir)
    )
    w = Window.partitionBy("event_type").orderBy("hour_start")
    lagged = hourly.withColumn("n_lag1", F.lag("n", 1).over(w)).withColumn(
        "n_lag_season", F.lag("n", SEASONAL_LAG_H).over(w)
    )
    err1 = F.abs(F.col("n") - F.col("n_lag1")).cast("double")
    errs = F.abs(F.col("n") - F.col("n_lag_season")).cast("double")
    return (
        lagged.filter(F.col("n_lag_season").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hours"),
            F.round(F.avg(err1), 4).alias("mae_naive"),
            F.round(F.avg(errs), 4).alias("mae_snaive"),
            F.round(
                F.sum(errs) / F.nullif(F.sum(err1), F.lit(0.0)), 4
            ).alias("mase"),
        )
    )
