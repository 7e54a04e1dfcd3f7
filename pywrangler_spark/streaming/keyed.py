"""One keyed-state core for the stateful streaming twins.

Structured Streaming runs a stateful operator as a per-key update
function over each trigger's rows (Armbrust et al., "Structured
Streaming", SIGMOD 2018). Every stateful twin in this package is such a
function, written as a pure ``step(key, batch, state) -> (state, out)``;
:func:`keyed_state` is the one place that turns a step into a streaming
plan, and the only ``applyInPandasWithState`` call in the package. It
owns the plumbing:

- group the stream by the key columns;
- join a key's Arrow chunks (``spark.sql.execution.arrow.
  maxRecordsPerBatch`` rows each) into ONE frame, so ``order`` sorts
  the key's whole micro-batch, never one chunk at a time;
- sort that frame stably on ``order`` (none: arrival order);
- carry the step's state as one pickled ``binary`` column — ``None``
  before the key's first batch;
- run in append mode with no timeout (keys never expire) and emit
  nothing for an empty ``out``.

Checkpoints written before this core existed used per-twin state
layouts (a ``(counter long, buffer string)`` struct for intervals, a
single ``long`` for caps and sequence packing). Restarting such a
checkpoint fails at query start with
``STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE`` rather than resuming wrongly;
twins that already kept one pickled ``binary`` column keep their
pickled layout and resume.
"""

from __future__ import annotations

import pickle
from typing import Any, Callable, Iterator, Optional, Sequence, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType

Step = Callable[
    [Tuple, pd.DataFrame, Any], Tuple[Any, Optional[pd.DataFrame]]
]


def keyed_state(
    sdf: DataFrame,
    keys: Sequence[str],
    out_schema: StructType | str,
    step: Step,
    order: Sequence[str] = (),
) -> DataFrame:
    """Group ``sdf`` by ``keys`` and fold each key's micro-batches
    through ``step``; the emitted frames (``out_schema``) are final
    append rows."""
    order = list(order)

    def _run(
        key: Tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        batch = pd.concat(list(pdfs), ignore_index=True)
        if order:
            batch = batch.sort_values(order, kind="stable", ignore_index=True)
        prev = pickle.loads(bytes(state.get[0])) if state.exists else None
        new, out = step(key, batch, prev)
        state.update((pickle.dumps(new),))
        if out is not None and len(out):
            yield out

    return sdf.groupBy(*keys).applyInPandasWithState(
        _run,
        outputStructType=out_schema,
        stateStructType="state binary",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def micros(series: pd.Series) -> np.ndarray:
    """Timestamps as int64 microseconds since the epoch."""
    return series.astype("datetime64[us]").astype("int64").to_numpy()


def key_columns(names: Sequence[str], key: Tuple, n: int) -> dict:
    """The group-key columns of an ``n``-row output frame."""
    return {name: pd.Series([k] * n) for name, k in zip(names, key)}
