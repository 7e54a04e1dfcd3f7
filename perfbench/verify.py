"""Output checks for the benchmark, all outside the timed region.

Batch operations are checked through engine-neutral aggregates: the
timed action of every operation collects one row of aggregates over
its whole output (row count, non-null counts, sums of integer columns,
sums of id x key, string lengths, timestamp seconds and microseconds,
sums of floating columns). The same aggregates are computed once per
run by DuckDB over the operation's oracle SQL (``queries.ORACLES``) on
the generated input, and each collected row is compared with them.

The stream outputs are compared with the batch operators on the same
events: every row the stream emitted must carry the batch result.
"""

from __future__ import annotations

import math
import os
from typing import Dict, List, Tuple

import numpy as np
import pandas as pd

# floating sums are accumulated in a different order by each engine
REL_TOL = 1e-9
ABS_TOL = 1e-6

_INTEGER = {"byte", "short", "integer", "long"}
_FLOATING = {"float", "double"}


def aggregate_spec(schema) -> List[Tuple[str, str, str]]:
    """``[(label, spark_sql, duckdb_sql)]`` for a Spark output schema.
    The first integer column is the id multiplied into every other
    integer column, so a right multiset of values on wrong rows shows."""
    spec = [("rows", "count(1)", "count(*)")]
    ints = [f.name for f in schema.fields if f.dataType.typeName() in _INTEGER]
    for field in schema.fields:
        c, kind = field.name, field.dataType.typeName()
        q = f'"{c}"'
        b = f"`{c}`"
        spec.append((f"nn:{c}", f"count({b})", f"count({q})"))
        if kind in _INTEGER:
            spec.append((f"sum:{c}", f"sum(CAST({b} AS BIGINT))", f"sum({q})"))
        elif kind in _FLOATING:
            spec.append((f"fsum:{c}", f"sum({b})", f"sum({q})"))
        elif kind == "string":
            spec.append((f"len:{c}", f"sum(length({b}))", f"sum(length({q}))"))
        elif kind == "timestamp":
            spec.append((f"sec:{c}", f"sum(unix_seconds({b}))", f"sum(epoch_us({q}) // 1000000)"))
            spec.append((f"us:{c}", f"sum(unix_micros({b}) % 1000000)", f"sum(epoch_us({q}) % 1000000)"))
    if ints:
        key = ints[0]
        for other in ints[1:]:
            spec.append(
                (
                    f"prod:{key}*{other}",
                    f"sum(CAST(`{key}` AS BIGINT) * CAST(`{other}` AS BIGINT))",
                    f'sum(CAST("{key}" AS HUGEINT) * "{other}")',
                )
            )
    return spec


def spark_aggregates(df, spec) -> Dict[str, float]:
    """The timed action: one row of aggregates over the whole output."""
    row = df.selectExpr(*[f"{sql} AS `{label}`" for label, sql, _ in spec]).collect()[0]
    return {label: row[label] for label, _, _ in spec}


def oracle_aggregates(con, oracle_sql: str, spec) -> Dict[str, float]:
    select = ", ".join(duck for _, _, duck in spec)
    row = con.execute(f"SELECT {select} FROM ({oracle_sql}) AS t").fetchone()
    return {label: value for (label, _, _), value in zip(spec, row)}


def duckdb_connection(data_dir: str, tmp_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    path = os.path.join(data_dir, "events.parquet")
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{path}'")
    return con


def _same(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(float(a), float(b), rel_tol=REL_TOL, abs_tol=ABS_TOL)
    return int(a) == int(b)


def mismatches(expected: Dict[str, float], got: Dict[str, float]) -> List[str]:
    """Labels whose values differ (empty list = verified)."""
    return [k for k in expected if not _same(expected[k], got.get(k))]


# ---- stream outputs against the batch operators ---------------------------


def _to_us(series: pd.Series) -> np.ndarray:
    return series.astype("datetime64[us]").astype("int64").to_numpy()


def check_stream_intervals(emitted: pd.DataFrame, batch: pd.DataFrame) -> List[str]:
    """Every emitted (user_id, ts) row must be a batch row with the same
    interval id, emitted once; rows the stream holds back must be the
    trailing unresolved ones, which the batch operator marks 0."""
    problems = []
    if emitted.empty:
        return ["stream emitted no interval rows"]
    e = pd.DataFrame({"user_id": emitted["user_id"].to_numpy(), "ts": _to_us(emitted["ts"]), "iids": emitted["iids"].to_numpy()})
    b = pd.DataFrame({"user_id": batch["user_id"].to_numpy(), "ts": _to_us(batch["ts"]), "iids": batch["iids"].to_numpy()})
    if e.duplicated(["user_id", "ts"]).any():
        problems.append("stream emitted a row twice")
    merged = e.merge(b, on=["user_id", "ts"], how="left", suffixes=("", "_batch"), indicator=True)
    if (merged["_merge"] != "both").any():
        problems.append("stream emitted rows absent from the input")
    elif (merged["iids"] != merged["iids_batch"]).any():
        n = int((merged["iids"] != merged["iids_batch"]).sum())
        problems.append(f"{n} emitted rows disagree with the batch interval id")
    pending = b.merge(e[["user_id", "ts"]], on=["user_id", "ts"], how="left", indicator=True)
    pending = pending[pending["_merge"] == "left_only"]
    if (pending["iids"] != 0).any():
        problems.append("stream held back rows of a resolved interval")
    return problems


def check_stream_sessions(emitted: pd.DataFrame, batch: pd.DataFrame, gap_us: int, watermark_us) -> List[str]:
    """Every emitted session must be a batch session with the same start,
    event count and value sum, and every batch session the stream's last
    watermark closed must have been emitted. A session closes once the
    watermark passes its last event plus the gap, so the newest sessions
    may be held back."""
    if emitted.empty:
        return ["stream emitted no sessions"]
    e = emitted.assign(session_start=_to_us(emitted["session_start"]))
    b = batch.assign(session_start=_to_us(batch["session_start"]), session_end=_to_us(batch["session_end"]))
    merged = e.merge(b, on=["user_id", "session_start"], how="left", suffixes=("", "_batch"), indicator=True)
    problems = []
    if watermark_us is None:
        problems.append("the session stream reported no watermark")
    else:
        closed = b[b["session_end"] + gap_us < watermark_us]
        missed = closed.merge(e[["user_id", "session_start"]], on=["user_id", "session_start"], how="left", indicator=True)
        n = int((missed["_merge"] == "left_only").sum())
        if n:
            problems.append(f"stream did not emit {n} of the {len(closed)} sessions its watermark closed")
    if e.duplicated(["user_id", "session_start"]).any():
        problems.append("stream emitted a session twice")
    if (merged["_merge"] != "both").any():
        problems.append("stream emitted sessions the batch operator does not have")
    else:
        if (merged["n_events"] != merged["n_events_batch"]).any():
            problems.append("emitted session sizes disagree with batch")
        if not np.allclose(merged["value_sum"], merged["value_sum_batch"], rtol=REL_TOL, atol=ABS_TOL):
            problems.append("emitted session value sums disagree with batch")
    return problems
