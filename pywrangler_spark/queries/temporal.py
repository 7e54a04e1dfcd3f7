"""Temporal queries over ``events``: as-of join attribution and
hypertable-style time-bucket rollups, each hash-checked against a DuckDB
formulation (DuckDB has native ``ASOF JOIN`` / ``time_bucket`` — an
independent implementation of the same semantics, ideal oracles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pywrangler_spark.functions.temporal import epoch_micros
from pywrangler_spark.operators.asof import asof_join, time_bucket_rollup
from pywrangler_spark.operators.rangejoin import interval_join, range_join
from pywrangler_spark.queries import register
from pywrangler_spark.sources import sf_table


# ---- as-of join: purchase -> most recent preceding click ------------------

_ASOF_ORACLE = """
SELECT p.event_id,
       p.user_id,
       CAST(p.ts AS TIMESTAMP) AS ts,
       c.event_id               AS click_id,
       CAST(c.ts AS TIMESTAMP)  AS click_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


@register("asof_click_attribution", oracle=_ASOF_ORACLE)
def asof_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attach to every purchase the latest click (same user, at-or-before)
    — classic attribution as-of join. Plan: one Exchange on user_id, one
    Sort, zero join nodes (see ``operators.asof``)."""
    ev = sf_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    out = purchases.transform(
        asof_join(
            clicks,
            on="user_id",
            left_ts="ts",
            right_ts="ts",
            right_columns=["click_id"],
            suffix="_click",
        )
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("click_id_click").alias("click_id"),
        F.col("ts_click").alias("click_ts"),
    )


# ---- time-bucket rollup: hourly per event_type ----------------------------

_BUCKET_ORACLE = """
SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS bucket_start,
       event_type,
       COUNT(*)                  AS n_events,
       ROUND(SUM("value"), 4)    AS value_sum
FROM events
GROUP BY 1, 2
"""


@register("timebucket_hourly", oracle=_BUCKET_ORACLE)
def timebucket_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour rollup of event counts and value sums per type —
    the batch form of the streaming windowed aggregation (map-side
    partial agg; the shuffle carries one row per bucket x type)."""
    out = sf_table(spark, sf_dir, "events").transform(
        time_bucket_rollup(
            "ts",
            "1 hour",
            groupby_columns="event_type",
            aggs=[
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 4).alias("value_sum"),
            ],
        )
    )
    return out


# ---- range join: purchases against trailing click windows -----------------
# Each click opens a 6-hour influence window; count, per purchase, the
# windows (same user) containing the purchase instant. Bucketed
# point-in-interval equi-join (operators.rangejoin) — an ordinary shuffled
# hash join on (user_id, bucket), never a nested-loop plan.

_RANGE_ORACLE = """
SELECT p.event_id,
       p.user_id,
       CAST(p.ts AS TIMESTAMP) AS ts,
       COUNT(c.event_id)       AS n_click_windows
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND p.ts BETWEEN c.ts AND c.ts + INTERVAL 6 HOUR
GROUP BY 1, 2, 3
"""


@register("rangejoin_click_windows", oracle=_RANGE_ORACLE)
def rangejoin_click_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = sf_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("w_start"),
            (F.col("ts") + F.expr("INTERVAL 6 HOURS")).alias("w_end"),
        )
    )
    matched = purchases.transform(
        range_join(
            clicks,
            point="ts",
            lower="w_start",
            upper="w_end",
            on="user_id",
            bucket_seconds=6 * 3600,
            how="left",
            right_columns=["click_id"],
        )
    )
    return matched.groupBy("event_id", "user_id", "ts").agg(
        F.count("click_id").alias("n_click_windows")
    )


# ---- interval-overlap join: purchase windows x error windows --------------
# Per user, count (purchase-window, error-window) pairs that overlap —
# "how often did an error shadow a purchase". Both sides explode into
# 1-hour buckets; the responsible-bucket rule emits each pair exactly once.

_OVERLAP_ORACLE = """
SELECT p.user_id, COUNT(*) AS n_overlaps
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'error') e
  ON p.user_id = e.user_id
 AND p.ts <= e.ts + INTERVAL 1 HOUR
 AND e.ts <= p.ts + INTERVAL 1 HOUR
GROUP BY 1
"""


@register("intervaljoin_error_shadow", oracle=_OVERLAP_ORACLE)
def intervaljoin_error_shadow(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = sf_table(spark, sf_dir, "events")

    def windows(kind: str, prefix: str) -> DataFrame:
        return ev.where(F.col("event_type") == kind).select(
            "user_id",
            F.col("ts").alias(f"{prefix}_start"),
            (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias(f"{prefix}_end"),
        )

    purchases = windows("purchase", "p")
    errors = windows("error", "e")
    paired = purchases.transform(
        interval_join(
            errors,
            left_lower="p_start",
            left_upper="p_end",
            right_lower="e_start",
            right_upper="e_end",
            on="user_id",
            bucket_seconds=3600,
            right_columns=[],
        )
    )
    return paired.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_overlaps"))


# ---- time-range window frame: trailing 7-day value per user ---------------
# Each event sees the sum/count of the same user's events in the
# trailing 7 days. The obvious bounded RANGE frame is a scale-killer:
# Spark's sliding frame re-aggregates as bounds move (35.7x wall for
# 10x data at the sf1->sf10 decade — per-key density grows with scale,
# work grows ~density^2). trailing_window_agg computes the identical
# answer as prefix(<=t) - prefix(<t-7d): two linear sorted passes, two
# user-keyed exchanges, decimal-exact vs the oracle's INTERVAL frame.

_ROLLING_ORACLE = """
SELECT event_id,
       user_id,
       CAST(ts AS TIMESTAMP) AS ts,
       CAST(SUM(CAST("value" AS DECIMAL(27,4))) OVER w AS DOUBLE)
           AS value_7d,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_7d
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
"""


@register("rolling_7d_user_value", oracle=_ROLLING_ORACLE)
def rolling_7d_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pywrangler_spark.operators.rolling import trailing_window_agg

    ev = sf_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    rolled = ev.transform(
        trailing_window_agg(
            "ts",
            7 * 24 * 3600,
            "user_id",
            sums={"value_7d": F.col("value").cast("decimal(27,4)")},
            count_alias="n_7d",
        )
    )
    return rolled.select(
        "event_id",
        "user_id",
        "ts",
        F.col("value_7d").cast("double").alias("value_7d"),
        F.col("n_7d").cast("long").alias("n_7d"),
    )


# ---- per-user value trend (regr_slope / regr_intercept) -------------------
# OLS of value ~ time per user, entirely in JVM aggregates: the shuffle
# carries five moment sums per user, never the rows. DuckDB's regr_*
# implement the same definition; rounding absorbs moment-association
# noise. The applyInPandas twin (operators.trend.group_trend_pandas) is
# equality-tested against this in the suite.

_TREND_ORACLE = """
SELECT user_id,
       ROUND(regr_slope("value", epoch(CAST(ts AS TIMESTAMP))), 8) AS slope,
       ROUND(regr_intercept("value", epoch(CAST(ts AS TIMESTAMP))), 4)
           AS intercept,
       COUNT(*) AS n
FROM events
GROUP BY 1
"""


@register("user_value_trend", oracle=_TREND_ORACLE)
def user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pywrangler_spark.operators.trend import group_trend

    return sf_table(spark, sf_dir, "events").transform(
        group_trend("ts", "value", "user_id", round_digits=(8, 4))
    )


# ---- forward-fill: carry last seen value per user -------------------------
# Nulls synthesized (value < 1 -> NULL) then forward-filled per user in
# time order — pandas ffill semantics, one exchange. DuckDB's
# last_value(... IGNORE NULLS) is an independent implementation of the
# same window fill.

_FFILL_ORACLE = """
SELECT event_id,
       user_id,
       CAST(ts AS TIMESTAMP) AS ts,
       last_value(CASE WHEN "value" >= 1 THEN "value" END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS value_filled
FROM events
"""


@register("ffill_user_values", oracle=_FFILL_ORACLE)
def ffill_user_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pywrangler_spark.operators.fill import ffill

    ev = sf_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("value") >= 1, F.col("value")).alias("value_filled"),
    )
    return ev.transform(ffill("value_filled", "user_id", "ts"))


# ---- latest record per key: changelog compaction --------------------------
# max_by(struct(payload), struct(ts, event_id)) — ONE shuffle with
# map-side partial reduce (see ``operators.latest``); the row_number
# oracle is the independent window formulation of the same semantics.

_LATEST_ORACLE = """
SELECT event_id,
       CAST(ts AS TIMESTAMP) AS ts,
       user_id,
       event_type,
       "value",
       props
FROM (
    SELECT *,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
)
WHERE rn = 1
"""


@register("latest_event_per_user", oracle=_LATEST_ORACLE)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each user's most recent event (event_id tiebreak) — SCD/changelog
    compaction via ``operators.latest.latest_by_key``."""
    from pywrangler_spark.operators.latest import latest_by_key

    return sf_table(spark, sf_dir, "events").transform(
        latest_by_key("user_id", "ts", "event_id")
    )


# ---- SCD-2 validity intervals from the event changelog --------------------
# valid_to = lead(ts) per user — one window, one shuffle, no self-join.

_SCD2_ORACLE = """
SELECT event_id,
       user_id,
       event_type,
       CAST(ts AS TIMESTAMP) AS valid_from,
       CAST(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
            AS TIMESTAMP) AS valid_to
FROM events
"""


@register("scd2_user_history", oracle=_SCD2_ORACLE)
def scd2_user_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 history: each event valid from its ts until the user's
    next event (NULL = current). ``operators.latest.scd2_from_changelog``."""
    from pywrangler_spark.operators.latest import scd2_from_changelog

    ev = sf_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    out = ev.transform(
        scd2_from_changelog("user_id", "ts", "valid_from", "valid_to",
                            tiebreak_columns="event_id")
    )
    return out.select(
        "event_id", "user_id", "event_type", "valid_from", "valid_to"
    )


# ---- consecutive-duplicate collapse (changelog compression) ---------------

_UNCHANGED_ORACLE = """
SELECT event_id,
       user_id,
       CAST(ts AS TIMESTAMP) AS ts,
       event_type
FROM (
    SELECT *,
           lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_type,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS rn
    FROM events
)
WHERE rn = 1 OR event_type IS DISTINCT FROM prev_type
"""


@register("changelog_compress_events", oracle=_UNCHANGED_ORACLE)
def changelog_compress_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop events whose event_type equals the user's previous event_type
    (null-safe) — ``operators.latest.drop_unchanged``."""
    from pywrangler_spark.operators.latest import drop_unchanged

    ev = sf_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    return ev.transform(drop_unchanged("user_id", ["ts", "event_id"], "event_type"))


# ---- semi-structured JSON metadata rollup ---------------------------------
# props parsed ONCE per row via from_json (codegen, no Python);
# get_json_object-per-field would re-parse N times. DuckDB's native JSON
# extension is the independent oracle.

_JSON_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       ROUND(AVG(CAST(json_extract(props, '$.k') AS INTEGER)), 6) AS avg_k,
       CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT)
           AS sum_k,
       MAX(CAST(json_extract(props, '$.k') AS INTEGER)) AS max_k
FROM events
GROUP BY event_type
"""


@register("json_props_by_type", oracle=_JSON_ORACLE)
def json_props_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the events JSON metadata column and aggregate the extracted
    field per event_type — ``functions.json.extract_json`` (single
    from_json parse, dropped pre-shuffle so the raw string never moves)."""
    from pywrangler_spark.functions.json import extract_json

    ev = sf_table(spark, sf_dir, "events").select("event_type", "props").transform(
        extract_json("props", "k INT", drop=True)
    )
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.avg("k"), 6).alias("avg_k"),
        F.sum("k").cast("bigint").alias("sum_k"),
        F.max("k").alias("max_k"),
    )


# ---- hopping (sliding) time-bucket rollup ---------------------------------
# 1-hour windows every 30 minutes: each event lands in exactly 2 windows
# (window/slide ratio). Spark expands rows pre-aggregation; the oracle
# re-derives both containing windows per event by shifting the 30-minute
# grid bucket (slide divides window, so both candidates always contain
# the event — no filter needed; grids are midnight-aligned in both
# engines for sub-day widths).

_HOP_ORACLE = """
SELECT bucket_start,
       event_type,
       COUNT(*)               AS n_events,
       ROUND(SUM("value"), 4) AS value_sum
FROM (
    SELECT e.event_type,
           e."value",
           time_bucket(INTERVAL 30 MINUTE, CAST(e.ts AS TIMESTAMP))
               - k.k * INTERVAL 30 MINUTE AS bucket_start
    FROM events e, (SELECT unnest([0, 1]) AS k) k
)
GROUP BY 1, 2
"""


@register("hopping_hourly_30m", oracle=_HOP_ORACLE)
def hopping_hourly_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping rollup: 1-hour windows sliding every 30 minutes, counts and
    value sums per event_type — ``time_bucket_rollup(slide=...)``."""
    return sf_table(spark, sf_dir, "events").transform(
        time_bucket_rollup(
            "ts",
            "1 hour",
            groupby_columns="event_type",
            aggs=[
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 4).alias("value_sum"),
            ],
            slide="30 minutes",
        )
    )


# ---- funnel: view -> click -> purchase progression per user ---------------
# Stage N = min(ts WHERE pred AND ts > stage N-1) — stacked windows on
# ONE exchange (operators.funnel); the naive decorrelation joins the
# event log to itself once per stage. The oracle is the same chained
# window formulation in SQL.

_FUNNEL_ORACLE = """
WITH s1 AS (
    SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts END)
                  OVER (PARTITION BY user_id) AS view_ts
    FROM events
), s2 AS (
    SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > view_ts
                       THEN ts END)
                  OVER (PARTITION BY user_id) AS click_ts
    FROM s1
), s3 AS (
    SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > click_ts
                       THEN ts END)
                  OVER (PARTITION BY user_id) AS purchase_ts
    FROM s2
)
SELECT user_id,
       CAST(MIN(view_ts) AS TIMESTAMP)     AS view_ts,
       CAST(MIN(click_ts) AS TIMESTAMP)    AS click_ts,
       CAST(MIN(purchase_ts) AS TIMESTAMP) AS purchase_ts
FROM s3
GROUP BY user_id
"""


@register("funnel_view_click_purchase", oracle=_FUNNEL_ORACLE)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user funnel: first view, first click after it, first purchase
    after that — ``operators.funnel.funnel``."""
    from pywrangler_spark.operators.funnel import funnel

    return sf_table(spark, sf_dir, "events").transform(
        funnel(
            "user_id",
            "ts",
            {
                "view": F.col("event_type") == "view",
                "click": F.col("event_type") == "click",
                "purchase": F.col("event_type") == "purchase",
            },
        )
    )


# ---- cohort retention: first-touch cohort x week offset -------------------
# first_ts per user is a window min (one exchange on user_id); the week
# offset is pure integer micros arithmetic (no calendar-week functions,
# whose week-start conventions differ across engines). Second exchange
# is the cohort re-key — inherent to the output grain.

_COHORT_ORACLE = """
WITH f AS (
    SELECT user_id, ts,
           MIN(ts) OVER (PARTITION BY user_id) AS first_ts
    FROM events
)
SELECT CAST(date_trunc('day', first_ts) AS TIMESTAMP) AS cohort_date,
       CAST(FLOOR(EPOCH(ts - first_ts) / 604800.0) AS BIGINT)
           AS week_offset,
       COUNT(DISTINCT user_id) AS n_users
FROM f
GROUP BY 1, 2
"""


@register("cohort_weekly_retention", oracle=_COHORT_ORACLE)
def cohort_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct active users per (first-event cohort day, weeks since
    first event) — the retention-triangle build."""
    ev = sf_table(spark, sf_dir, "events").select("user_id", "ts")
    from pyspark.sql import Window

    first = F.min("ts").over(Window.partitionBy("user_id"))
    enriched = ev.select(
        "user_id",
        F.date_trunc("DAY", first).alias("cohort_date"),
        F.floor(
            (epoch_micros("ts") - epoch_micros(first))
            / F.lit(604800.0 * 1_000_000)
        ).cast("bigint").alias("week_offset"),
    )
    return enriched.groupBy("cohort_date", "week_offset").agg(
        F.countDistinct("user_id").alias("n_users")
    )


# ---- CDC merge: snapshot + change batch + tombstones ----------------------
# Snapshot = compacted first half of the month, batch = the rest; a key
# whose winning row is an 'error' event is tombstoned out. Equivalent to
# compacting the whole log then dropping tombstoned keys — which is
# exactly what the oracle does, independently, with a window.

_CDC_ORACLE = """
SELECT event_id,
       CAST(ts AS TIMESTAMP) AS ts,
       user_id,
       event_type,
       "value",
       (event_type = 'error') AS dead
FROM (
    SELECT *,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
)
WHERE rn = 1 AND event_type <> 'error'
"""


@register("cdc_upsert_events", oracle=_CDC_ORACLE)
def cdc_upsert_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a change batch (with delete tombstones) onto a compacted
    snapshot — ``operators.latest.apply_changelog``."""
    from pywrangler_spark.operators.latest import apply_changelog, latest_by_key

    ev = sf_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value",
        (F.col("event_type") == "error").alias("dead"),
    )
    cutoff = F.lit("2024-01-16").cast("timestamp")
    snapshot = ev.where(F.col("ts") < cutoff).transform(
        latest_by_key("user_id", "ts", "event_id")
    )
    batch = ev.where(F.col("ts") >= cutoff)
    return snapshot.transform(
        apply_changelog(batch, "user_id", "ts", "event_id",
                        delete_column="dead")
    )


# ---- OHLC bars: hourly open/high/low/close per event type -----------------
# ONE aggregation with min_by/max_by partials (each shuffle row is a
# bucket's 4-number state); the oracle takes the window-rank route — the
# formulation the operator deliberately avoids — so agreement pins the
# argmin/argmax semantics including the event_id tiebreak.

_OHLC_ORACLE = """
WITH t AS (
    SELECT event_type, event_id, "value", ts,
           time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP))
               AS bucket_start
    FROM events
), r AS (
    SELECT *,
           ROW_NUMBER() OVER (PARTITION BY bucket_start, event_type
                              ORDER BY ts, event_id)           AS rn_a,
           ROW_NUMBER() OVER (PARTITION BY bucket_start, event_type
                              ORDER BY ts DESC, event_id DESC) AS rn_d
    FROM t
)
SELECT bucket_start,
       event_type,
       MIN(CASE WHEN rn_a = 1 THEN "value" END) AS open,
       MAX("value")                             AS high,
       MIN("value")                             AS low,
       MIN(CASE WHEN rn_d = 1 THEN "value" END) AS close,
       COUNT(*)                                 AS n_ticks
FROM r
GROUP BY 1, 2
"""


@register("ohlc_hourly_by_type", oracle=_OHLC_ORACLE)
def ohlc_hourly_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars of event value per event_type —
    ``operators.asof.ohlc_bars``."""
    from pywrangler_spark.operators.asof import ohlc_bars

    return sf_table(spark, sf_dir, "events").transform(
        ohlc_bars("ts", "value", "1 hour",
                  groupby_columns="event_type",
                  tiebreak_columns="event_id")
    )


# ---- time-weighted average value per user ---------------------------------
# Sensor/financial staple: each observation holds until the next one, so
# the mean weights each value by its holding duration (lead window; the
# final observation has no duration and drops out). Micros-integer
# weights — engine-identical; the weighted sums accumulate in
# DECIMAL(38,6) so the cross-engine result is order-independent.

_TWA_ORACLE = """
WITH d AS (
    SELECT user_id, "value",
           EPOCH_US(lead(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id)
                    - ts) AS dt_us
    FROM events
)
SELECT user_id,
       ROUND(CAST(SUM(CAST("value" * dt_us AS DECIMAL(38,6))) AS DOUBLE)
             / SUM(dt_us), 6) AS twa_value,
       CAST(SUM(dt_us) AS BIGINT) AS span_us
FROM d
WHERE dt_us IS NOT NULL
GROUP BY user_id
"""


@register("twa_user_value", oracle=_TWA_ORACLE)
def twa_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duration-weighted mean of value per user (last-observation-
    carried-forward weighting)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = sf_table(spark, sf_dir, "events").select(
        "user_id",
        "value",
        (epoch_micros(F.lead("ts").over(w))
         - epoch_micros("ts")).alias("dt_us"),
    ).where(F.col("dt_us").isNotNull())
    return d.groupBy("user_id").agg(
        F.round(
            F.sum((F.col("value") * F.col("dt_us"))
                  .cast("decimal(38,6)")).cast("double")
            / F.sum("dt_us"),
            6,
        ).alias("twa_value"),
        F.sum("dt_us").cast("bigint").alias("span_us"),
    )


# ---- user journeys: ordered event-type sequences --------------------------
# collect_list is unordered by contract — the struct array is sorted
# AFTER collection (array_sort on (ts, event_id)), which is the only
# deterministic way to build sequences in a distributed agg. The oracle
# uses DuckDB's ordered string_agg, an independent mechanism.

_JOURNEY_ORACLE = """
WITH j AS (
    SELECT user_id,
           string_agg(substr(event_type, 1, 1), '>'
                      ORDER BY ts, event_id) AS journey
    FROM events
    GROUP BY user_id
)
SELECT substr(journey, 1, 9) AS journey_prefix,
       COUNT(*)              AS n_users
FROM j
GROUP BY 1
"""


@register("journey_prefix_counts", oracle=_JOURNEY_ORACLE)
def journey_prefix_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count users per first-5-event journey signature (initials joined
    with '>'), e.g. 'v>c>v>e>p'."""
    seq = sf_table(spark, sf_dir, "events").groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct("ts", "event_id",
                         F.substring("event_type", 1, 1).alias("t"))
            )
        ).alias("evs")
    )
    journey = seq.select(
        F.substring(
            F.array_join(F.transform("evs", lambda x: x["t"]), ">"),
            1, 9,
        ).alias("journey_prefix")
    )
    return journey.groupBy("journey_prefix").agg(
        F.count(F.lit(1)).alias("n_users")
    )


# ---- time-grid resample + LOCF fill ---------------------------------------
# One row per (user, hour) from each user's first to last event hour;
# empty hours carry the last observed value forward. Grid is built from
# the per-key span AGGREGATE (shuffles keys, never events); the oracle
# rebuilds the identical grid with generate_series. In-bucket ties
# collapse by (ts, value) lexicographic max on both engines.

# the hourly LOCF series' CTEs: ``ev`` buckets every event by floor
# (Spark's pmod; DuckDB's % truncates toward zero), ``collapsed`` keeps
# each (user, hour)'s last value, ``grid`` spans each user's hours
_HOURLY_EV_SQL = """
WITH ev AS (
    SELECT user_id,
           CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 3600000000.0)
                AS BIGINT) * 3600000000 AS b,
           epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
           "value" AS v
    FROM events
)"""


def _hourly_collapsed_sql(n_events: bool) -> str:
    count = (
        ",\n           COUNT(*) OVER (PARTITION BY user_id, b) AS n_events"
        if n_events
        else ""
    )
    return f""", collapsed AS (
    SELECT DISTINCT user_id, b,
           last_value(v) OVER (
               PARTITION BY user_id, b ORDER BY tus, v
               ROWS BETWEEN UNBOUNDED PRECEDING
                        AND UNBOUNDED FOLLOWING) AS bv{count}
    FROM ev
)"""


_HOURLY_GRID_SQL = """, span AS (
    SELECT user_id, MIN(b) AS lo, MAX(b) AS hi FROM ev GROUP BY user_id
), grid AS (
    SELECT user_id, UNNEST(generate_series(lo // 3600000000,
                                           hi // 3600000000))
               * 3600000000 AS b
    FROM span
)"""

_RESAMPLE_ORACLE = (
    """
WITH ev AS (
    SELECT user_id,
           -- floor bucketing (matches Spark pmod), NOT %: DuckDB's %
           -- truncates toward zero, splitting pre-1970 epochs into the
           -- wrong bucket
           CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 3600000000.0)
                AS BIGINT) * 3600000000 AS b,
           epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
           "value" AS v
    FROM events
)"""
    + _hourly_collapsed_sql(True)
    + _HOURLY_GRID_SQL
    + """
SELECT g.user_id,
       make_timestamp(g.b) AS bucket_start,
       last_value(c.bv IGNORE NULLS) OVER (
           PARTITION BY g.user_id ORDER BY g.b
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS "value",
       CAST(COALESCE(c.n_events, 0) AS BIGINT) AS n_events
FROM grid g LEFT JOIN collapsed c USING (user_id, b)
"""
)


@register("resample_hourly_locf", oracle=_RESAMPLE_ORACLE)
def resample_hourly_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pywrangler_spark.operators.resample import resample_locf

    return sf_table(spark, sf_dir, "events").transform(
        resample_locf("ts", 3600, "user_id", "value", agg="last")
    )


# runs mode: the same LOCF series run-length encoded — one row per
# non-empty bucket, valid through the bucket before the group's next
# non-empty bucket. Output is sized by the EVENTS (distinct event
# buckets), not keys x grid density: the dense 80M-row grid at sf10 is
# the dense mode's honest linear floor, and consumers that don't need
# the explicit grid take this form (dense derivable via runs_to_dense,
# equivalence property-tested).
_RESAMPLE_RUNS_ORACLE = (
    _HOURLY_EV_SQL
    + _hourly_collapsed_sql(True)
    + """
SELECT user_id,
       make_timestamp(b) AS valid_from,
       make_timestamp(COALESCE(
           lead(b) OVER (PARTITION BY user_id ORDER BY b) - 3600000000,
           b)) AS valid_to,
       last_value(bv IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY b
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS "value",
       CAST(n_events AS BIGINT) AS n_events
FROM collapsed
"""
)


@register("resample_hourly_locf_runs", oracle=_RESAMPLE_RUNS_ORACLE)
def resample_hourly_locf_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pywrangler_spark.operators.resample import resample_locf

    return sf_table(spark, sf_dir, "events").transform(
        resample_locf(
            "ts", 3600, "user_id", "value", agg="last", output="runs"
        )
    )


# runs as the scale-consumer input: the time-weighted mean of the LOCF
# series needs no dense grid at all — each run contributes
# value x run-length, so the whole statistic computes on events-sized
# input. The oracle derives the SAME number the independent way (avg
# over the materialized dense grid), which is the equivalence a 100 TB
# consumer relies on when it skips the grid.
_RESAMPLE_TWA_ORACLE = (
    _HOURLY_EV_SQL
    + _hourly_collapsed_sql(False)
    + _HOURLY_GRID_SQL
    + """, dense AS (
    SELECT g.user_id,
           last_value(c.bv IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
    FROM grid g LEFT JOIN collapsed c USING (user_id, b)
)
SELECT user_id,
       ROUND(AVG(v), 4) AS twa_value,
       COUNT(v) AS n_buckets
FROM dense GROUP BY user_id
"""
)


@register("resample_runs_weighted_mean", oracle=_RESAMPLE_TWA_ORACLE)
def resample_runs_weighted_mean(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-user time-weighted mean of the hourly LOCF series, computed
    FROM THE RUNS — no dense keys x buckets grid is ever materialized.
    Each run's weight is its length in buckets ((valid_to - valid_from)
    / step + 1); a run whose carried value is still NULL (before the
    user's first non-null bucket) contributes nothing, exactly like the
    NULL prefix of the dense series. This is the documented consumption
    pattern for 100 TB consumers (SCALE.md): store/ship runs, derive
    grid-shaped statistics by weighting, expand with runs_to_dense only
    when a consumer genuinely needs grid rows."""
    from pywrangler_spark.operators.resample import resample_locf

    step_us = 3_600 * 1_000_000
    runs = sf_table(spark, sf_dir, "events").transform(
        resample_locf(
            "ts", 3600, "user_id", "value", agg="last", output="runs"
        )
    )
    n_buckets = (
        (epoch_micros(F.col("valid_to")) - epoch_micros(F.col("valid_from")))
        / F.lit(step_us)
        + 1
    ).cast("long")
    return (
        runs.filter(F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(
            F.round(
                F.sum(F.col("value") * n_buckets) / F.sum(n_buckets), 4
            ).alias("twa_value"),
            F.sum(n_buckets).alias("n_buckets"),
        )
    )


# ---- rolling z-score anomaly flags ----------------------------------------
# Trailing-window standardization per user: z against the previous 20
# events (excluding the current one — no self-leakage), flag |z| > 3.
# Rounded to 3 dp so windowed-aggregate f64 association differences
# (Spark running frames vs DuckDB segment trees) cannot flip a value.

_ZSCORE_ORACLE = """
SELECT event_id, user_id,
       ROUND(("value" - avg_prev) / NULLIF(std_prev, 0.0), 3) AS zscore,
       CASE WHEN ABS(("value" - avg_prev) / NULLIF(std_prev, 0.0)) > 3.0
            THEN TRUE ELSE FALSE END AS is_anomaly
FROM (
    SELECT event_id, user_id, "value",
           AVG("value") OVER w AS avg_prev,
           STDDEV_SAMP("value") OVER w AS std_prev
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
)
"""


@register("zscore_anomaly_events", oracle=_ZSCORE_ORACLE)
def zscore_anomaly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, -1)
    )
    ev = sf_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    z = (F.col("value") - F.avg("value").over(w)) / F.nullif(
        F.stddev_samp("value").over(w), F.lit(0.0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(z, 3).alias("zscore"),
        F.coalesce(F.abs(z) > 3.0, F.lit(False)).alias("is_anomaly"),
    )


# ---- VARIANT semi-structured path (Spark 4 native) ------------------------
# The open-table-format answer to schemaless JSON: parse ONCE into the
# binary VARIANT encoding, then typed `variant_get` extractions — no
# per-access string re-parse, and the encoded value is what an Iceberg/
# Delta variant column would store. Same aggregation as
# json_props_by_type so the two parse paths are mutually checkable; the
# oracle extracts with DuckDB's JSON path functions.

_VARIANT_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
           AS sum_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS INT)
           AS max_k
FROM events
GROUP BY event_type
"""


@register("variant_props_by_type", oracle=_VARIANT_ORACLE)
def variant_props_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = sf_table(spark, sf_dir, "events").select(
        "event_type", F.parse_json("props").alias("v")
    )
    extracted = ev.select(
        "event_type",
        F.variant_get("v", "$.k", "int").alias("k"),
    )
    return extracted.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("k").cast("bigint").alias("sum_k"),
        F.max("k").alias("max_k"),
    )


# ---- Z-order layout code ---------------------------------------------------
# Integer fixed-width buckets (from exact min/max — no quantile
# interpolation) make the bucket and Morton-interleave arithmetic
# bit-exact in both engines; the quantile-boundary production path is
# covered by tests/test_layout.py including the file-pruning benefit.
_ZORDER_ORACLE = """
WITH base AS (
    SELECT event_id, user_id,
           epoch_us(CAST(ts AS TIMESTAMP)) // 60000000 AS minute
    FROM events
), s AS (
    SELECT min(user_id) AS minu, max(user_id) AS maxu,
           min(minute) AS minm, max(minute) AS maxm
    FROM base
), coded AS (
    SELECT event_id, user_id, minute,
           least((user_id - minu)
                 // greatest((maxu - minu + 1) // 16, 1), 15) AS bu,
           least((minute - minm)
                 // greatest((maxm - minm + 1) // 16, 1), 15) AS bm
    FROM base, s
), z AS (
    SELECT event_id, user_id,
           ((bu >> 0) & 1) * 1 + ((bm >> 0) & 1) * 2
         + ((bu >> 1) & 1) * 4 + ((bm >> 1) & 1) * 8
         + ((bu >> 2) & 1) * 16 + ((bm >> 2) & 1) * 32
         + ((bu >> 3) & 1) * 64 + ((bm >> 3) & 1) * 128 AS zcode
    FROM coded
)
SELECT CAST(zcode AS BIGINT) AS zcode,
       count(*) AS n_rows,
       CAST(min(user_id) AS BIGINT) AS min_user,
       CAST(max(user_id) AS BIGINT) AS max_user
FROM z GROUP BY 1
"""


@register("zorder_code_events", oracle=_ZORDER_ORACLE)
def zorder_code_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton-code the events on (user_id, minute) with integer
    fixed-width buckets and aggregate per code cell — verifies the bit
    interleave and bucket arithmetic the Z-order layout writer uses."""
    from pywrangler_spark.sources.layout import zorder_code

    base = sf_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr("unix_micros(ts) div 60000000").alias("minute"),
    )
    s = base.agg(
        F.min("user_id").alias("minu"), F.max("user_id").alias("maxu"),
        F.min("minute").alias("minm"), F.max("minute").alias("maxm"),
    ).first()
    wu = max((s["maxu"] - s["minu"] + 1) // 16, 1)
    wm = max((s["maxm"] - s["minm"] + 1) // 16, 1)
    bounds = {
        "user_id": [float(s["minu"] + i * wu) for i in range(1, 16)],
        "minute": [float(s["minm"] + i * wm) for i in range(1, 16)],
    }
    return (
        base.transform(
            zorder_code(["user_id", "minute"], bits=4, boundaries=bounds)
        )
        .groupBy(F.col("_z").alias("zcode"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("user_id").cast("long").alias("min_user"),
            F.max("user_id").cast("long").alias("max_user"),
        )
    )


# ---- numeric hygiene wranglers --------------------------------------------
# Exact-percentile winsorization and group-median imputation; cutoffs
# and fills ROUND(6) in both engines (quantile_cont == Spark percentile,
# continuous interpolation — the proven quality-gate discipline).
_WINSOR_ORACLE = """
WITH cuts AS (
    SELECT event_type,
           round(quantile_cont(CAST("value" AS DOUBLE), 0.05), 6) AS lo,
           round(quantile_cont(CAST("value" AS DOUBLE), 0.95), 6) AS hi
    FROM events GROUP BY 1
)
SELECT e.event_id,
       CASE WHEN e."value" IS NULL THEN NULL
            ELSE least(greatest(CAST(e."value" AS DOUBLE), c.lo), c.hi)
       END AS value_w
FROM events e JOIN cuts c USING (event_type)
"""


@register("winsorize_event_values", oracle=_WINSOR_ORACLE)
def winsorize_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pywrangler_spark.operators.clean import winsorize

    return (
        sf_table(spark, sf_dir, "events")
        .transform(winsorize("value", 0.05, 0.95, group_by="event_type"))
        .select("event_id", F.col("value").alias("value_w"))
    )


_IMPUTE_ORACLE = """
WITH fills AS (
    SELECT event_type,
           round(quantile_cont(CAST("value" AS DOUBLE), 0.5), 6) AS f
    FROM events GROUP BY 1
)
SELECT e.event_id,
       COALESCE(CAST(e."value" AS DOUBLE), f.f) AS value_i
FROM events e LEFT JOIN fills f USING (event_type)
"""


@register("impute_event_values", oracle=_IMPUTE_ORACLE)
def impute_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pywrangler_spark.operators.clean import impute

    return (
        sf_table(spark, sf_dir, "events")
        .transform(impute("value", "median", group_by="event_type"))
        .select("event_id", F.col("value").alias("value_i"))
    )


_SCALE_ORACLE = """
WITH s AS (
    SELECT event_type,
           round(avg(CAST("value" AS DOUBLE)), 6) AS a,
           round(stddev_samp(CAST("value" AS DOUBLE)), 6) AS b
    FROM events GROUP BY 1
)
SELECT e.event_id,
       CASE WHEN e."value" IS NULL THEN NULL
            WHEN s.b IS NULL OR s.b = 0.0 THEN 0.0
            ELSE round((CAST(e."value" AS DOUBLE) - s.a) / s.b, 6)
       END AS value_z
FROM events e LEFT JOIN s USING (event_type)
"""


@register("scale_event_values", oracle=_SCALE_ORACLE)
def scale_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pywrangler_spark.operators.clean import scale

    return (
        sf_table(spark, sf_dir, "events")
        .transform(scale("value", "zscore", group_by="event_type"))
        .select("event_id", F.col("value").alias("value_z"))
    )
