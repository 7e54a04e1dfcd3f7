"""ETL pipeline: compose wranglers, plain ``df -> df`` functions, and
``pyspark.ml`` Transformers into one inspectable, cacheable unit.

Capability parity with the reference's ``pw/pyspark/pipeline.py``
(1056 LoC) — fresh, Spark-first design:

- **Stage conversion**: a stage may be a :class:`SparkWrangler`
  (params via ``get_params``), any callable ``DataFrame -> DataFrame``
  (keyword defaults become tunable params), or a ``pyspark.ml``
  Transformer (used as-is).
- **Caching**: per-stage ``df.cache()`` control
  (``pipeline.cacher.enable/disable/clear``).
- **Stage access**: ``pipeline[2]`` / ``pipeline["identify"]`` (fuzzy,
  case-insensitive substring; ambiguity raises) → stage;
  ``pipeline(2)`` / ``pipeline("identify")`` → that stage's output
  DataFrame from the last ``transform``.
- **Introspection**: ``describe()`` (names/params/docs/caching), and
  ``profile()`` (rows, wall time, partitions, shuffle count per stage)
  built on the public ``explain`` API rather than the reference's
  ``_jdf`` regex (``pw/pyspark/pipeline.py:828-865``).
"""

from __future__ import annotations

import inspect
import time
from typing import Any, Callable, Dict, List, Optional, Union

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pywrangler_spark.base import BaseWrangler
from pywrangler_spark.plans.inspect import count_exchanges
from pywrangler_spark.util import CacheScope


class Stage:
    """Uniform wrapper: name + params + transform."""

    def __init__(
        self,
        obj: Any,
        name: str,
        params: Dict[str, Any],
        transform: Callable[[DataFrame], DataFrame],
        doc: Optional[str] = None,
    ):
        self.obj = obj
        self.name = name
        self.params = params
        self._transform = transform
        self.doc = (doc or "").strip().splitlines()[0] if doc else ""

    def transform(self, df: DataFrame) -> DataFrame:
        return self._transform(df)

    def __repr__(self) -> str:
        return f"Stage({self.name})"

    @classmethod
    def from_any(cls, obj: Any, index: int) -> "Stage":
        if isinstance(obj, Stage):
            return obj
        if isinstance(obj, BaseWrangler):
            return cls(
                obj,
                type(obj).__name__,
                obj.get_params(),
                lambda df, o=obj: o.fit_transform(df),
                inspect.getdoc(type(obj)),
            )
        if hasattr(obj, "transform") and hasattr(obj, "uid"):
            # pyspark.ml.Transformer duck-typed (has uid + transform)
            params = {}
            try:
                params = {
                    p.name: obj.getOrDefault(p)
                    for p in obj.params
                    if obj.hasDefault(p) or obj.isSet(p)
                }
            except Exception:
                pass
            return cls(
                obj,
                type(obj).__name__,
                params,
                obj.transform,
                inspect.getdoc(type(obj)),
            )
        if callable(obj):
            sig = inspect.signature(obj)
            params = {
                n: p.default
                for n, p in sig.parameters.items()
                if p.default is not inspect.Parameter.empty
            }
            name = getattr(obj, "__name__", f"stage_{index}")
            if name == "<lambda>":
                name = f"stage_{index}"
            return cls(obj, name, params, obj, inspect.getdoc(obj))
        raise TypeError(
            f"stage {index}: expected wrangler, callable or Transformer, "
            f"got {type(obj)}"
        )


class PipelineCacher:
    """Per-stage cache control; applied on the next ``transform``."""

    def __init__(self, pipeline: "Pipeline"):
        self._pipeline = pipeline
        self._enabled: set = set()
        self._scopes: List[CacheScope] = []

    def enable(self, stages: Union[Any, List[Any]]) -> None:
        for s in stages if isinstance(stages, list) else [stages]:
            self._enabled.add(self._pipeline._locate(s))

    def disable(self, stages: Union[Any, List[Any]]) -> None:
        for s in stages if isinstance(stages, list) else [stages]:
            self._enabled.discard(self._pipeline._locate(s))

    def open_scope(self) -> CacheScope:
        """The scope one ``transform`` caches its stages into."""
        self._scopes.append(CacheScope())
        return self._scopes[-1]

    def clear(self) -> None:
        """Unpersist the stage caches of every transform since the last
        clear, and release stage-owned caches: operators that persist
        internal state across a lazy transform (minhash/simhash
        signature caches) expose ``release()``, and the pipeline frees
        them here — the same consume-then-clear lifecycle as its own
        stage caches."""
        while self._scopes:
            self._scopes.pop().release()
        self._enabled.clear()
        for stage in self._pipeline.stages:
            release = getattr(stage.obj, "release", None)
            if callable(release):
                release()

    def is_enabled(self, idx: int) -> bool:
        return idx in self._enabled

    @property
    def enabled_indices(self) -> List[int]:
        return sorted(self._enabled)


class Pipeline:
    """Sequential DataFrame pipeline with caching + introspection."""

    def __init__(self, stages: List[Any]):
        self.stages = [Stage.from_any(s, i) for i, s in enumerate(stages)]
        self.cacher = PipelineCacher(self)
        self._dfs: List[Optional[DataFrame]] = []
        self._input_df: Optional[DataFrame] = None

    # -- stage lookup -------------------------------------------------------

    def _locate(self, key: Any) -> int:
        if isinstance(key, int):
            n = len(self.stages)
            if not -n <= key < n:
                raise IndexError(f"stage index {key} out of range ({n} stages)")
            return key % n
        if isinstance(key, Stage):
            return self.stages.index(key)
        if isinstance(key, str):
            needle = key.lower()
            exact = [
                i for i, s in enumerate(self.stages)
                if s.name.lower() == needle
            ]
            if len(exact) == 1:
                return exact[0]
            fuzzy = [
                i for i, s in enumerate(self.stages)
                if needle in s.name.lower()
            ]
            if len(fuzzy) == 1:
                return fuzzy[0]
            if not fuzzy:
                raise ValueError(
                    f"no stage matches {key!r}; stages: "
                    f"{[s.name for s in self.stages]}"
                )
            raise ValueError(
                f"ambiguous stage name {key!r}: matches "
                f"{[self.stages[i].name for i in fuzzy]}"
            )
        # a wrapped object
        for i, s in enumerate(self.stages):
            if s.obj is key:
                return i
        raise ValueError(f"cannot locate stage {key!r}")

    def __getitem__(self, key: Any) -> Stage:
        return self.stages[self._locate(key)]

    def __call__(self, key: Any) -> DataFrame:
        """The intermediate DataFrame produced by a stage in the last
        ``transform`` run."""
        if not self._dfs:
            raise RuntimeError("call pipeline.transform(df) first")
        return self._dfs[self._locate(key)]

    def __len__(self) -> int:
        return len(self.stages)

    # -- execution ----------------------------------------------------------

    def transform(self, df: DataFrame) -> DataFrame:
        self._input_df = df
        self._dfs = []
        scope = (
            self.cacher.open_scope() if self.cacher.enabled_indices else None
        )
        for idx, stage in enumerate(self.stages):
            df = stage.transform(df)
            if self.cacher.is_enabled(idx):
                df = scope.persist(df)
            self._dfs.append(df)
        return df

    fit_transform = transform

    # -- introspection ------------------------------------------------------

    def describe(self) -> List[Dict[str, Any]]:
        return [
            {
                "idx": i,
                "name": s.name,
                "params": s.params,
                "doc": s.doc,
                "cached": self.cacher.is_enabled(i),
                "n_columns": (
                    len(self._dfs[i].columns)
                    if self._dfs and self._dfs[i] is not None
                    else None
                ),
            }
            for i, s in enumerate(self.stages)
        ]

    def profile(self) -> List[Dict[str, Any]]:
        """Execute each stage output (count) and record rows, wall time,
        partitions, and cumulative shuffle-exchange count from the public
        explain output."""
        if not self._dfs:
            raise RuntimeError("call pipeline.transform(df) first")
        out = []
        for i, s in enumerate(self.stages):
            df = self._dfs[i]
            # ONE action per stage computes both rows and non-empty
            # output partitions (spark_partition_id + countDistinct) —
            # public DataFrame API only (no .rdd, Connect-compatible),
            # and no second execution of an uncached stage plan
            t0 = time.perf_counter()
            stats = (
                df.select(F.spark_partition_id().alias("_pid"))
                .agg(
                    F.count(F.lit(1)).alias("rows"),
                    F.countDistinct("_pid").alias("parts"),
                )
                .first()
            )
            elapsed = time.perf_counter() - t0
            out.append(
                {
                    "idx": i,
                    "name": s.name,
                    "rows": stats["rows"],
                    "seconds": round(elapsed, 4),
                    "partitions": stats["parts"],
                    "exchanges": count_exchanges(df),
                    "cached": self.cacher.is_enabled(i),
                }
            )
        return out
