"""Physical-plan introspection through the public ``explain`` API.

The reference parses ``df._jdf.queryExecution().simpleString()`` with a
regex (``pw/pyspark/pipeline.py:828-865``) — an internal API. Here the
plan text comes from capturing ``DataFrame.explain(...)`` output, which
is public and stable, and the helpers answer the questions that matter
for scale: how many shuffles, how wide the codegen spans, what reached
the scan (pushed filters / pruned columns).
"""

from __future__ import annotations

import contextlib
import io
import re
from typing import Dict, List

from pyspark.sql import DataFrame


def explain_string(df: DataFrame, mode: str = "formatted") -> str:
    """The ``df.explain(mode)`` text as a string."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def _plan_tree(df: DataFrame) -> str:
    """The (final) physical plan TREE of ``df``: after AQE execution the
    formatted text contains a Final Plan tree, an Initial Plan tree, and
    a details section that lists both trees' operators again — naive
    counting over the whole text double- or triple-counts."""
    plan = explain_string(df)
    return plan.split("== Initial Plan ==")[0].split("\n\n")[0]


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle Exchange operators (excluding broadcast and
    reused exchanges) — the metric to minimize."""
    # tree lines look like "+- Exchange (4)"; the lookbehind excludes
    # BroadcastExchange / ReusedExchange
    return len(re.findall(r"(?<![A-Za-z])Exchange \(\d+\)", _plan_tree(df)))


def count_sorts(df: DataFrame) -> int:
    """Number of Sort operators (not SortMergeJoin / SortAggregate) —
    each one re-sorts its whole input, so window specs that share one
    order should plan exactly one."""
    return len(re.findall(r"(?<![A-Za-z])Sort \(\d+\)", _plan_tree(df)))


def codegen_stage_count(df: DataFrame) -> int:
    """Number of WholeStageCodegen spans (wider spans = fewer = better)."""
    plan = explain_string(df, mode="simple")
    return len(set(re.findall(r"\*\((\d+)\)", plan)))


def scan_info(df: DataFrame) -> List[Dict[str, str]]:
    """Per-scan pushdown facts: PushedFilters and ReadSchema — verify a
    filter reached parquet and columns were pruned."""
    plan = explain_string(df)
    scans = []
    current: Dict[str, str] = {}
    for line in plan.splitlines():
        stripped = line.strip()
        if re.match(r"\(\d+\) Scan ", stripped):
            if current:
                scans.append(current)
            current = {"scan": stripped}
        elif stripped.startswith("PushedFilters:") and current is not None:
            current["pushed_filters"] = stripped.partition(":")[2].strip()
        elif stripped.startswith("ReadSchema:") and current is not None:
            current["read_schema"] = stripped.partition(":")[2].strip()
        elif stripped.startswith("Location:") and current is not None:
            current["location"] = stripped.partition(":")[2].strip()
    if current:
        scans.append(current)
    return scans
