"""The operations each workload runs, timed from outside the program.

Every operation calls the program's public entry points only:
``queries.QUERIES[name]`` builders, ``pipeline.Pipeline``, the
``streaming`` transforms with ``idempotent_parquet_sink``, and a
DataFrame action. An operation returns its outputs as
``{label: (aggregate spec, aggregates)}`` for the checks in
:mod:`verify`; it never clears Spark's caches, so a leaked persisted
frame stays visible to the caller.
"""

from __future__ import annotations

import json
import os
from typing import Callable, Dict, List, Tuple

import pyarrow.dataset as ds

from verify import aggregate_spec, spark_aggregates

SESSION_GAP_S = 86400.0

# the pipeline op's two outputs carry the same results as these queries
# (its second stage is the sessionize_gap_1d aggregation), so they are
# checked against the same oracles
PIPELINE_EXPECTED = {
    "pipeline:intervals": "interval_last_first",
    "pipeline:sessions": "sessionize_gap_1d",
}

# micro-batches per stream query counted as warm-up (state store and
# plan creation happen in the first one)
WARM_BATCHES = 1


class Context:
    """What an operation needs: the session, the input directory, a
    scratch directory for stream state, and the tracer."""

    def __init__(self, spark, data_dir: str, work_dir: str, tracer):
        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.tracer = tracer


Outputs = Dict[str, Tuple[list, dict]]


def _action(ctx: Context, op: str, df, span: str = "operators.exec") -> Tuple[list, dict]:
    with ctx.tracer.span(span, op=op):
        spec = aggregate_spec(df.schema)
        return spec, spark_aggregates(df, spec)


def query_op(name: str) -> Callable[[Context], Outputs]:
    def run(ctx: Context) -> Outputs:
        from pywrangler_spark.queries import QUERIES

        with ctx.tracer.span("queries.build", op=name):
            df = QUERIES[name](ctx.spark, ctx.data_dir)
        return {name: _action(ctx, name, df)}

    return run


def interval_identifier():
    from pywrangler_spark.operators.interval_identifier import IntervalIdentifier

    # the configuration of the interval_last_first query
    return IntervalIdentifier(
        marker_column="event_type",
        marker_start="signup",
        marker_end="purchase",
        marker_start_use_first=False,
        marker_end_use_first=True,
        orderby_columns=["ts", "event_id"],
        groupby_columns="user_id",
    )


def pipeline_op(ctx: Context) -> Outputs:
    """IntervalIdentifier -> session stats through ``Pipeline``, the first
    stage cached; both outputs are read, the second from the cache."""
    from pywrangler_spark.operators.sessionize import session_stats
    from pywrangler_spark.pipeline import Pipeline
    from pywrangler_spark.sources import read_parquet

    name = "pipeline"
    with ctx.tracer.span("queries.build", op=name):
        events = read_parquet(ctx.spark, os.path.join(ctx.data_dir, "events.parquet"))
    pipe = Pipeline(
        [interval_identifier(), session_stats("ts", SESSION_GAP_S, "user_id", value_column="value")]
    )
    pipe.cacher.enable(0)
    with ctx.tracer.span("pipeline.transform", op=name):
        sessions = pipe.transform(events)
    out = {"pipeline:intervals": _action(ctx, name, pipe(0))}
    out["pipeline:sessions"] = _action(ctx, name, sessions, span="pipeline.reuse")
    pipe.cacher.clear()
    return out


# rows of the reference job: about run.REF_CPU_S CPU seconds on the host
# the sizes were set on
REFERENCE_ROWS = 4_000_000


def reference_job(spark) -> None:
    """Fixed Spark work that calls no code of the program and depends on
    none of its settings (no exchange): hash, sort and discard generated
    rows in four partitions. Its CPU time is the host's speed next to the
    passes."""
    (
        spark.range(0, REFERENCE_ROWS, 1, 4)
        .selectExpr("id", "xxhash64(id) AS h", "concat('k', id % 9973) AS s")
        .sortWithinPartitions("h")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )


# ---- streaming ---------------------------------------------------------------


def _progress(query) -> List[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def _drain(ctx: Context, op: str, transform, schema, out_dir: str, ck_dir: str) -> List[dict]:
    from pywrangler_spark.streaming import idempotent_parquet_sink

    with ctx.tracer.span("streaming.transform", op=op):
        source = (
            ctx.spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(ctx.data_dir, "stream"))
        )
        stream = transform(source)
    with ctx.tracer.span("streaming.drain", op=op):
        query = (
            stream.writeStream.foreachBatch(idempotent_parquet_sink(out_dir))
            .option("checkpointLocation", ck_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    if query.exception() is not None:
        raise RuntimeError(f"{op} stream failed: {query.exception()}")
    return _progress(query)


def stream_op(ctx: Context, schema) -> Tuple[Dict[str, object], Dict[str, List[dict]]]:
    """Drain the time-ordered event files through both streaming
    transforms, one query after the other. Returns each query's sink
    directory and progress records."""
    from pywrangler_spark.streaming import (
        stream_identify_intervals,
        stream_session_stats,
    )

    transforms = {
        "stream_identify_intervals": stream_identify_intervals(
            "event_type", "signup", "purchase", "user_id", "ts"
        ),
        # watermark 0: files arrive in event-time order, so nothing is late
        "stream_session_stats": stream_session_stats(
            "ts", SESSION_GAP_S, "user_id", value_column="value", watermark="0 seconds"
        ),
    }
    emitted, progress = {}, {}
    for op, transform in transforms.items():
        out_dir = os.path.join(ctx.work_dir, op, "out")
        progress[op] = _drain(ctx, op, transform, schema, out_dir, os.path.join(ctx.work_dir, op, "ck"))
        emitted[op] = out_dir
    return emitted, progress


def read_sink(out_dir: str):
    """Rows a stream committed through the idempotent sink."""
    if not os.path.isdir(out_dir):
        return None
    return ds.dataset(out_dir, format="parquet", partitioning="hive").to_table().to_pandas()


def final_watermark_us(progress: List[dict]):
    """The event-time watermark of a query's last micro-batch, in
    microseconds (None when it reported none)."""
    import pandas as pd

    marks = [p["eventTime"]["watermark"] for p in progress if "watermark" in p.get("eventTime", {})]
    return pd.Timestamp(marks[-1]).value // 1000 if marks else None


def batch_summary(progress: List[dict]) -> List[dict]:
    """Data-carrying micro-batches after the warm-up ones."""
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    return batches[WARM_BATCHES:]


def state_totals(progress: List[dict]) -> Tuple[int, float]:
    last = [p for p in progress if p.get("stateOperators")]
    if not last:
        return 0, 0.0
    ops = last[-1]["stateOperators"]
    return (
        sum(o.get("numRowsTotal", 0) for o in ops),
        sum(o.get("memoryUsedBytes", 0) for o in ops) / 2**20,
    )
