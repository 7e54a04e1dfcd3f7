"""Small shared helpers: argument normalization, introspection, dependency
gating.

Capability parity with the reference's ``pw/util/sanitizer.py:16-58``,
``pw/util/helper.py:11-37`` and ``pw/util/dependencies.py:33-87`` — fresh
implementations.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import weakref
from typing import Any, Callable, Iterable, Optional, Sequence, Tuple, Type


def ensure_iterable(
    value: Any,
    seq_type: Type = tuple,
    retain_none: bool = False,
) -> Optional[Sequence]:
    """Normalize a scalar-or-iterable argument into a sequence.

    Strings and bytes count as scalars (a column name is one value, not a
    sequence of characters). ``None`` becomes an empty sequence unless
    ``retain_none`` is set.

    Reference behavior: ``pw/util/sanitizer.py:16-58``.
    """
    if value is None:
        return None if retain_none else seq_type()
    if isinstance(value, (str, bytes)):
        return seq_type([value])
    if isinstance(value, Iterable):
        return seq_type(value)
    return seq_type([value])


def collect_init_params(cls: Type) -> Tuple[str, ...]:
    """Names of all ``__init__`` parameters over the MRO (excluding self,
    *args, **kwargs). Reference behavior: ``pw/util/helper.py:11-37``.
    """
    names: list[str] = []
    for klass in cls.__mro__:
        init = klass.__dict__.get("__init__")
        if init is None:
            continue
        sig = inspect.signature(init)
        for pname, param in sig.parameters.items():
            if pname == "self":
                continue
            if param.kind in (param.VAR_POSITIONAL, param.VAR_KEYWORD):
                continue
            if pname not in names:
                names.append(pname)
    return tuple(names)


def wide_exchange_width(spark) -> int:
    """Partition count for an explicitly-widened exchange whose per-task
    sort/aggregation mass must stay bounded as the data grows.

    ``repartition(N, ...)`` / ``repartitionByRange(N, ...)`` are
    REPARTITION_BY_NUM — AQE never coalesces OR widens them — so a
    data-growing exchange pinned to the slot count makes each task sort
    dataSize/slots bytes (measured: 69 GB of external-sort spill at the
    sf100 interval_global probe). Defaulting to the session's declared
    AQE initial width bounds per-task mass the same way the session
    bounds ordinary exchanges. Sessions NOT built by
    :func:`pywrangler_spark.session.get_spark` may tune
    ``initialPartitionNum`` into the thousands (a common cluster
    setting); since this count is never coalesced back, cap the derived
    default at ``16 x defaultParallelism`` so a foreign session doesn't
    pay thousands of range-sampled/near-empty partitions. The
    floor is ``spark.sql.shuffle.partitions``. Callers expose a
    ``num_partitions`` override for layouts this heuristic can't know.
    """
    conf = spark.conf
    try:
        base = int(conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        # foreign sessions can set this key non-numeric (e.g. some
        # managed platforms use 'auto'); fall back to the cluster's
        # slot count, or Spark's shipped default where even that is
        # unavailable (Spark Connect)
        try:
            base = int(spark.sparkContext.defaultParallelism)
        except Exception:
            base = 200
    try:
        initial = int(
            conf.get(
                "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
            )
        )
    except Exception:
        initial = base
    try:
        cap = 16 * int(spark.sparkContext.defaultParallelism)
    except Exception:  # Spark Connect: no sparkContext; trust the conf
        cap = initial
    return max(base, min(initial, cap))


def is_available(*modules: str) -> bool:
    """True iff every named module can be imported.

    Reference behavior: ``pw/util/dependencies.py:70-87``.
    """
    for name in modules:
        try:
            importlib.import_module(name)
        except ImportError:
            return False
    return True


def requires(*modules: str) -> Callable:
    """Decorator: raise a helpful ImportError when a soft dependency is
    missing, instead of failing deep inside the call.

    Reference behavior: ``pw/util/dependencies.py:33-67``.
    """

    def decorator(func: Callable) -> Callable:
        @functools.wraps(func)
        def wrapper(*args: Any, **kwargs: Any) -> Any:
            missing = [m for m in modules if not is_available(m)]
            if missing:
                raise ImportError(
                    f"{func.__qualname__} requires missing module(s): "
                    f"{', '.join(missing)}. Install them to use this feature."
                )
            return func(*args, **kwargs)

        return wrapper

    return decorator


class ColumnCacher:
    """Stage chained column expressions as named intermediate columns.

    Capability parity with the reference's ``ColumnCacher``
    (``pw/pyspark/util.py:105-204``), which optionally materializes
    intermediate ``withColumn`` steps to cut logical-plan depth (its
    rationale cites SPARK-30552). On modern Catalyst the inline path is
    the right default — ``CollapseProject`` folds the chain anyway — so
    ``mode="lazy"`` keeps everything as pure expressions and adds NOTHING
    to the plan; ``mode="debug"`` attaches every intermediate as a real
    output column so plans and results can be inspected step by step.

    >>> cc = ColumnCacher(df, mode="lazy")
    >>> a = cc.add("a", F.col("x") + 1)
    >>> b = cc.add("b", a * 2)          # builds on the staged expr
    >>> out = cc.finish("result", b)     # one select; only `result` added
    """

    def __init__(self, df, mode: str = "lazy"):
        if mode not in ("lazy", "debug"):
            raise ValueError(f"mode must be 'lazy' or 'debug', got {mode!r}")
        self.df = df
        self.mode = mode
        self.columns: dict[str, Any] = {}

    def add(self, name: str, column):
        """Register an intermediate expression; returns a Column usable in
        later expressions (the expression itself — no materialization)."""
        self.columns[name] = column
        return column

    def finish(self, name: str, column):
        """Produce the final DataFrame with ``name`` attached. In lazy
        mode only ``name`` is added; in debug mode every staged
        intermediate becomes a column too (in registration order)."""
        df = self.df
        if self.mode == "debug":
            for cname, expr in self.columns.items():
                df = df.withColumn(cname, expr)
        return df.withColumn(name, column)


def _unpersist_all(frames: list, blocking: bool) -> None:
    while frames:
        try:
            frames.pop().unpersist(blocking=blocking)
        except Exception:
            pass  # gateway gone or frame already dropped: nothing to free


class CacheScope:
    """Owns the DataFrames one operator call persisted.

    ``persist`` records each frame; :meth:`release` unpersists them all
    (blocking, idempotent); :meth:`tie` pins the scope to a result
    DataFrame. A scope lives exactly as long as something holds it —
    the results it was tied to (and anything :func:`keep_alive` carried
    it to), or a caller that owns it outright such as
    ``pipeline.PipelineCacher``. When the last holder is
    garbage-collected a finalizer unpersists the frames without
    blocking, so the inline ``df.transform(Op(...))`` form frees its
    caches without ``spark.catalog.clearCache()``. Unpersist only ever
    degrades to recompute: a plan that still reads a released frame
    stays correct. ``atexit`` is off — at interpreter shutdown the JVM
    gateway may already be gone and the cache dies with the session.
    """

    def __init__(self) -> None:
        self._frames: list = []
        fin = weakref.finalize(self, _unpersist_all, self._frames, False)
        fin.atexit = False

    def persist(self, df, level=None):
        """Persist ``df`` (at ``level``, else the DataFrame default) and
        record it; returns ``df``."""
        df = df.persist() if level is None else df.persist(level)
        self._frames.append(df)
        return df

    def release(self) -> None:
        """Unpersist every recorded frame, blocking until executor
        storage is freed."""
        _unpersist_all(self._frames, True)

    def tie(self, result):
        """Pin this scope to ``result`` and return ``result``."""
        # vars(): DataFrame.__getattr__ would fetch the schema per miss
        result._pw_scopes = vars(result).get("_pw_scopes", ()) + (self,)
        return result


class CacheOwner:
    """Mixin for cached operators: one fresh :class:`CacheScope` per
    ``__call__``, held weakly, so a result's GC drains its own call's
    caches while the instance lives on, and :meth:`release` frees every
    call's caches that are still live."""

    def _open_scope(self) -> CacheScope:
        scope = CacheScope()
        self.__dict__.setdefault("_scopes", weakref.WeakSet()).add(scope)
        return scope

    def release(self) -> None:
        """Unpersist the caches of every live call (blocking)."""
        for scope in list(self.__dict__.get("_scopes", ())):
            scope.release()


def keep_alive(derived, *sources):
    """Make ``derived`` also pin every :class:`CacheScope` pinned to
    ``sources``; returns ``derived``.

    A scope drains when the transform RESULT it was tied to is
    garbage-collected — safe (degrade to recompute) but a silent
    performance trap when a caller immediately derives a new DataFrame
    (``result.select(...)``) and drops ``result``: the caches die before
    the derived plan ever executes, and every cached lineage
    recomputes. Found in r12 via ``explain()`` on the registered span
    queries — no ``InMemoryTableScan`` in the executed plan; every
    measured span number to that point had paid one extra distinct-gram
    corpus scan. Carrying the scopes to the derived object defers the
    drain to the lifetime that actually consumes the caches::

        pairs = df.transform(ContainmentPairs(...))   # scope tied
        return keep_alive(pairs.select(...), pairs)   # pin carried over
    """
    scopes = vars(derived).get("_pw_scopes", ())
    for src in sources:
        scopes += vars(src).get("_pw_scopes", ())
    derived._pw_scopes = scopes
    return derived


class BoundedFitCache(dict):
    """Per-process fit-once cache with an entry bound (VERDICT r12 #8).

    The fit-once-serve-many model caches (``_IVF_CENTROIDS``,
    ``_PQ_CODEBOOKS``, ``_CLF_MODELS``, the param dicts) are keyed on
    ``sf_dir``/layout and were unbounded — harmless in a bench process
    that only ever sees a handful of corpora, a slow leak for a
    long-lived library user iterating over many datasets. Oldest-insert
    eviction is correctness-free: every cached fit is deterministic
    (fixed seed, same corpus), so a re-fit after eviction reproduces
    the identical artifact; the bound only caps resident model memory.
    """

    def __init__(self, maxsize: int = 8) -> None:
        super().__init__()
        self.maxsize = maxsize

    def __setitem__(self, key, value) -> None:
        if key not in self and len(self) >= self.maxsize:
            del self[next(iter(self))]
        super().__setitem__(key, value)
