"""Optional pyspark.ml interop: wrap any pipeline stage as a REAL
``pyspark.ml.Transformer`` so wranglers compose with MLlib estimators
inside ``pyspark.ml.Pipeline``.

Capability parity with the reference's wrangler/function→Transformer
conversion (``/root/reference/src/pywrangler/pyspark/pipeline.py:107-276``),
re-designed rather than ported: the core :class:`~pywrangler_spark.
pipeline.Pipeline` stays deliberately decoupled from ``pyspark.ml``
(no ``_jdf``, Connect-compatible), and this module is the thin opt-in
bridge for users who need MLlib interop.

Design: one dynamically-created ``Transformer`` subclass per wrapped
stage, with a class-level :class:`~pyspark.ml.param.Param` per stage
parameter (class-level because ``Params.__init__`` discovers and
re-parents params from the class). Parameter state lives entirely in
the standard ``Params`` paramMap — ``transform`` re-applies the current
values to the underlying stage on every call, so ``setMaxGap(5)`` /
``set(...)`` / ``copy(extra)`` behave exactly like any MLlib stage and
survive ``Pipeline.fit``'s stage copies.
"""

from __future__ import annotations

import copy as _copy
import inspect
from typing import Any, Callable, Dict

from pyspark.ml import Transformer
from pyspark.ml.param import Param, Params

from pywrangler_spark.base import BaseWrangler


def _param_getter(param_name: str) -> Callable:
    def _get(self):
        return self.getOrDefault(getattr(self, param_name))

    _get.__name__ = f"get{param_name.capitalize()}"
    return _get


def _param_setter(param_name: str) -> Callable:
    def _set_one(self, value):
        return self._set(**{param_name: value})

    _set_one.__name__ = f"set{param_name.capitalize()}"
    return _set_one


class _StageTransformerMixin:
    """Shared behavior of every bridged Transformer: param round-trip
    into the wrapped stage, then delegate the DataFrame work."""

    def currentParams(self) -> Dict[str, Any]:
        """All stage parameters at their current (set-or-default)
        values, keyed by name."""
        return {
            p.name: self.getOrDefault(p)
            for p in self.params
            if self.hasDefault(p) or self.isSet(p)
        }

    def setParams(self, **kwargs):
        return self._set(**kwargs)


def to_ml_transformer(stage: Any, name: str = None) -> Transformer:
    """Wrap ``stage`` as a ``pyspark.ml.Transformer`` with one ``Param``
    per stage parameter (plus ``get<Name>``/``set<Name>`` accessors).

    Accepted stages — the same surface :class:`~pywrangler_spark.
    pipeline.Pipeline` composes:

    - a :class:`BaseWrangler`: params come from ``get_params()``;
      ``transform`` runs ``set_params`` on a private copy, then
      ``fit_transform``;
    - a callable ``DataFrame -> DataFrame`` whose keyword defaults
      become params: ``transform`` calls ``func(df, **params)``
      (a zero-keyword callable becomes a param-less Transformer);
    - a :class:`~pywrangler_spark.pipeline.Stage`: unwraps to its
      underlying object.

    The wrapped stage is copied; mutating the original afterwards does
    not affect the transformer (and vice versa).
    """
    # late import to avoid a cycle (pipeline imports base, not us)
    from pywrangler_spark.pipeline import Stage

    if isinstance(stage, Transformer):
        return stage
    if isinstance(stage, Stage):
        return to_ml_transformer(stage.obj, name or stage.name)
    if not isinstance(stage, BaseWrangler) and not callable(stage):
        raise TypeError(
            f"cannot bridge {type(stage)} to pyspark.ml.Transformer; "
            "expected a BaseWrangler, Stage, or DataFrame callable"
        )

    if isinstance(stage, BaseWrangler):
        stage = _copy.deepcopy(stage)

        def _apply(self, df):
            wr = self._stage
            wr.set_params(**self.currentParams())
            return wr.fit_transform(df)

        doc = inspect.getdoc(type(stage))
    else:

        def _apply(self, df):
            return self._stage(df, **self.currentParams())

        doc = inspect.getdoc(stage)
    # name and params follow the one conversion rule Pipeline uses
    spec = Stage.from_any(stage, 0)
    return _build(name or spec.name, stage, spec.params, _apply, doc)


def _build(
    cls_name: str,
    stage_obj: Any,
    params: Dict[str, Any],
    apply_fn: Callable,
    doc: str,
) -> Transformer:
    """Create the per-stage Transformer subclass and one configured
    instance of it."""
    attrs: Dict[str, Any] = {
        "__doc__": doc or f"Bridged pipeline stage {cls_name}",
        # staticmethod stops Python turning a bare function stage into
        # a bound method of the transformer class
        "_stage": (
            staticmethod(stage_obj)
            if inspect.isfunction(stage_obj) or inspect.isbuiltin(stage_obj)
            else stage_obj
        ),
        "_transform": apply_fn,
    }
    # a parameter named like an inherited Params/Transformer member
    # ('params', 'uid', 'copy', ...) would silently shadow the ML API
    # when written as a class attribute below — refuse loudly instead
    reserved = set(dir(Transformer)) | set(dir(_StageTransformerMixin))
    # instance attributes Params.__init__ assigns (not visible via
    # dir() on the class)
    reserved.update({"uid", "_defaultParamMap", "_paramMap", "_params"})
    reserved.update(attrs)
    bad = sorted(p for p in params if p in reserved)
    if bad:
        raise ValueError(
            f"stage parameter name(s) {bad} collide with "
            "pyspark.ml.Transformer / bridge attributes; rename the "
            "wrangler parameter(s) before bridging"
        )
    for pname in params:
        # Params._dummy() parent is the public idiom for class-level
        # params (pyspark.ml.param.shared does the same); Params
        # __init__ copies them onto the instance re-parented to its uid
        attrs[pname] = Param(Params._dummy(), pname, f"{cls_name}.{pname}")
        attrs[f"get{pname.capitalize()}"] = _param_getter(pname)
        attrs[f"set{pname.capitalize()}"] = _param_setter(pname)

    cls = type(cls_name, (_StageTransformerMixin, Transformer), attrs)
    inst = cls()
    inst._setDefault(**params)
    return inst
