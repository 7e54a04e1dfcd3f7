"""Interval-identification & sessionization queries over the ``events``
table, each paired with a DuckDB oracle that re-derives the same semantics
in pure ANSI SQL window functions (an independent formulation — the oracle
is the spec, not a transcription of the Spark plan).

Events fixture: groupby=user_id, orderby=(ts, event_id), markers in
``event_type`` ('signup' opens, 'purchase' closes).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pywrangler_spark.operators.interval_identifier import IntervalIdentifier
from pywrangler_spark.operators.sessionize import session_stats
from pywrangler_spark.queries import register
from pywrangler_spark.sources import read_parquet

# events.ts is stored as TIMESTAMP(NANOS); Spark side reads micros, so the
# oracle casts to microsecond TIMESTAMP for value parity.
_EVENT_COLS = (
    "event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, "
    '"value", props'
)


def interval_oracle_sql(
    start_use_first: bool,
    end_use_first: bool,
    result_type: str = "enumerated",
    identical: bool = False,
) -> str:
    """DuckDB SQL computing interval ids on events (start='signup',
    end='purchase'; identical mode: start=end='signup')."""
    part = "PARTITION BY user_id ORDER BY ts, event_id"
    if identical:
        return f"""
SELECT {_EVENT_COLS},
       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
            OVER ({part} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS iids
FROM events
"""
    # which neighbour (in the marker subsequence) decides run-collapse
    start_nb = "pm" if start_use_first else "nm"
    end_nb = "pm" if end_use_first else "nm"
    if result_type == "raw":
        id_expr = (
            "sum(bs + be_lag) OVER "
            f"({part} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        )
        final = f"CAST({id_expr} AS BIGINT) AS iids"
        needs_valid = False
    elif result_type == "valid":
        id_expr = (
            "sum(bs + be_lag) OVER "
            f"({part} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        )
        final = f"CAST(CASE WHEN valid THEN {id_expr} ELSE 0 END AS BIGINT) AS iids"
        needs_valid = True
    else:  # enumerated
        id_expr = (
            "sum(CASE WHEN bs = 1 AND valid THEN 1 ELSE 0 END) OVER "
            f"({part} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        )
        final = f"CAST(CASE WHEN valid THEN {id_expr} ELSE 0 END AS BIGINT) AS iids"
        needs_valid = True

    valid_expr = (
        "((a IS NOT DISTINCT FROM 1) AND (nxt IS NOT DISTINCT FROM 2)) "
        "OR ((a IS NOT DISTINCT FROM 2) AND (prv IS NOT DISTINCT FROM 1))"
        if needs_valid
        else "TRUE"
    )

    return f"""
WITH denoised AS (
    SELECT *, CASE WHEN event_type = 'signup' THEN 1
                   WHEN event_type = 'purchase' THEN 2 END AS m
    FROM events
), neigh AS (
    SELECT *,
        last_value(m IGNORE NULLS) OVER
            ({part} ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm,
        first_value(m IGNORE NULLS) OVER
            ({part} ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nm
    FROM denoised
), kept AS (
    SELECT *,
        CASE WHEN m = 1 AND ({start_nb} IS DISTINCT FROM 1) THEN 1
             WHEN m = 2 AND ({end_nb} IS DISTINCT FROM 2) THEN 2 END AS km,
        CASE WHEN m = 1 AND ({start_nb} IS DISTINCT FROM 1) THEN 1 ELSE 0 END AS bs,
        CASE WHEN m = 2 AND ({end_nb} IS DISTINCT FROM 2) THEN 1 ELSE 0 END AS be
    FROM neigh
), fills AS (
    SELECT *,
        last_value(km IGNORE NULLS) OVER
            ({part} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a,
        last_value(km IGNORE NULLS) OVER
            ({part} ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prv,
        first_value(km IGNORE NULLS) OVER
            ({part} ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nxt,
        coalesce(lag(be) OVER ({part}), 1) AS be_lag
    FROM kept
), flagged AS (
    SELECT *, ({valid_expr}) AS valid FROM fills
)
SELECT {_EVENT_COLS}, {final}
FROM flagged
"""


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_parquet(spark, os.path.join(sf_dir, "events.parquet"))


def _interval_query(
    start_use_first: bool,
    end_use_first: bool,
    result_type: str = "enumerated",
    identical: bool = False,
):
    def _run(spark: SparkSession, sf_dir: str) -> DataFrame:
        wrangler = IntervalIdentifier(
            marker_column="event_type",
            marker_start="signup",
            marker_end="signup" if identical else "purchase",
            marker_start_use_first=start_use_first,
            marker_end_use_first=end_use_first,
            orderby_columns=["ts", "event_id"],
            groupby_columns="user_id",
            result_type=result_type,
        )
        return wrangler.fit_transform(_events(spark, sf_dir))

    return _run


register(
    "interval_last_first",
    oracle=interval_oracle_sql(False, True),
)(_interval_query(False, True))

register(
    "interval_first_first",
    oracle=interval_oracle_sql(True, True),
)(_interval_query(True, True))

register(
    "interval_first_last",
    oracle=interval_oracle_sql(True, False),
)(_interval_query(True, False))

register(
    "interval_last_last",
    oracle=interval_oracle_sql(False, False),
)(_interval_query(False, False))

register(
    "interval_identical_markers",
    oracle=interval_oracle_sql(False, True, identical=True),
)(_interval_query(False, True, identical=True))

register(
    "interval_raw_ids",
    oracle=interval_oracle_sql(False, True, result_type="raw"),
)(_interval_query(False, True, result_type="raw"))

register(
    "interval_valid_ids",
    oracle=interval_oracle_sql(False, True, result_type="valid"),
)(_interval_query(False, True, result_type="valid"))


_SESSIONIZE_ORACLE = """
WITH bounds AS (
    SELECT user_id, ts, event_id, "value",
        CASE WHEN lag(ts) OVER w IS NULL
                  OR (epoch_us(ts) - epoch_us(lag(ts) OVER w)) / 1000000.0
                     > 86400.0
             THEN 1 ELSE 0 END AS boundary
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sids AS (
    SELECT *, sum(boundary) OVER
        (PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
    FROM bounds
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       CAST(min(ts) AS TIMESTAMP) AS session_start,
       CAST(max(ts) AS TIMESTAMP) AS session_end,
       count(*) AS n_events,
       CAST(sum(CAST("value" AS DECIMAL(27,4))) AS DOUBLE) AS value_sum
FROM sids
GROUP BY user_id, session_id
"""


@register("sessionize_gap_1d", oracle=_SESSIONIZE_ORACLE)
def sessionize_gap_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pywrangler_spark.operators.sessionize import sessionize_gap

    with_sid = _events(spark, sf_dir).transform(
        sessionize_gap("ts", 86400.0, "user_id")
    )
    # exact decimal accumulation → order-independent double (see relational)
    return with_sid.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(27,4)"))
        .cast("double")
        .alias("value_sum"),
    )


# global timeline (no group key): the range-partitioned distributed
# operator; its oracle is the enumerated last/first SQL with every window
# over the whole timeline instead of one user's events
_GLOBAL_ORACLE = interval_oracle_sql(False, True).replace(
    "PARTITION BY user_id ", ""
)


@register("interval_global_timeline", oracle=_GLOBAL_ORACLE)
def interval_global_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pywrangler_spark.operators.interval_global import (
        identify_intervals_global,
    )

    return identify_intervals_global(
        _events(spark, sf_dir),
        marker_column="event_type",
        marker_start="signup",
        marker_end="purchase",
        orderby_columns=["ts", "event_id"],
    )


_SESSION_FEATURES_ORACLE = """
WITH bounds AS (
    SELECT user_id, ts, event_id,
        CASE WHEN lag(ts) OVER w IS NULL
                  OR (epoch_us(ts) - epoch_us(lag(ts) OVER w)) / 1000000.0
                     > 86400.0
             THEN 1 ELSE 0 END AS boundary
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sids AS (
    SELECT *, sum(boundary) OVER
        (PARTITION BY user_id ORDER BY ts
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
    FROM bounds
)
SELECT event_id,
       CAST(session_id AS BIGINT) AS session_id,
       CAST(row_number() OVER ws AS INT) AS event_idx,
       CAST((epoch_us(ts) - epoch_us(first_value(ts) OVER ws2))
            // 1000000 AS BIGINT) AS secs_into_session
FROM sids
WINDOW ws AS (PARTITION BY user_id, session_id ORDER BY ts, event_id),
       ws2 AS (PARTITION BY user_id, session_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


@register("session_features_events", oracle=_SESSION_FEATURES_ORACLE)
def session_features_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pywrangler_spark.operators.sessionize import session_features

    return (
        _events(spark, sf_dir)
        .transform(
            session_features(
                "ts", 86400.0, "user_id", order_tiebreak="event_id"
            )
        )
        .select(
            "event_id",
            "session_id",
            "event_idx",
            F.col("secs_into_session").cast("long").alias(
                "secs_into_session"
            ),
        )
    )
