"""Wrangler base API: sklearn-style ``fit`` / ``transform`` / ``fit_transform``
with introspectable parameters.

Capability parity with the reference's ``pw/base.py`` (131 LoC) and
``pw/pyspark/base.py`` — fresh implementation. A *wrangler* is a configured,
reusable whole-DataFrame transformation; on Spark it only ever builds lazy
Column-expression plans, so ``fit`` is stateless and ``transform`` returns an
unevaluated DataFrame for Catalyst to optimize.
"""

from __future__ import annotations

from typing import Any, Dict, Optional

from pyspark.sql import DataFrame

from pywrangler_spark.util import collect_init_params


class BaseWrangler:
    """Base class defining the wrangler interface.

    Subclasses declare configuration as ``__init__`` keyword arguments
    (introspected via :meth:`get_params` / mutated via :meth:`set_params`,
    reference contract ``pw/base.py:56-103``) and implement
    :meth:`transform`.
    """

    @property
    def preserves_sample_size(self) -> bool:
        """True when output row count always equals input row count
        (reference contract ``pw/base.py:46-49``)."""
        raise NotImplementedError

    @property
    def computation_engine(self) -> str:
        raise NotImplementedError

    def get_params(self) -> Dict[str, Any]:
        """Return all ``__init__`` parameters and their current values."""
        names = collect_init_params(type(self))
        missing = [n for n in names if not hasattr(self, n)]
        if missing:
            raise AttributeError(
                f"{type(self).__name__} must store init params as attributes;"
                f" missing: {missing}"
            )
        return {name: getattr(self, name) for name in names}

    def set_params(self, **params: Any) -> "BaseWrangler":
        """Set parameters by keyword. The merged parameters go through
        ``__init__`` again, so they are normalised and validated exactly
        as at construction; unknown names or invalid values raise
        ``ValueError`` and leave the wrangler unchanged."""
        valid = set(collect_init_params(type(self)))
        for key in params:
            if key not in valid:
                raise ValueError(
                    f"Invalid parameter {key!r} for {type(self).__name__}. "
                    f"Valid parameters: {sorted(valid)}"
                )
        checked = type(self)(**{**self.get_params(), **params})
        self.__dict__.update(vars(checked))
        return self

    def fit(self, *args: Any, **kwargs: Any) -> "BaseWrangler":
        raise NotImplementedError

    def transform(self, *args: Any, **kwargs: Any) -> Any:
        raise NotImplementedError

    def fit_transform(self, *args: Any, **kwargs: Any) -> Any:
        raise NotImplementedError


class SparkWrangler(BaseWrangler):
    """Base class for PySpark wranglers.

    ``fit`` is a stateless no-op (all reference wranglers are untrained,
    ``pw/pyspark/base.py:20-53``); ``transform`` builds a lazy plan.
    """

    @property
    def computation_engine(self) -> str:
        return "pyspark"

    def fit(self, df: DataFrame) -> "SparkWrangler":
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        raise NotImplementedError

    def fit_transform(self, df: DataFrame) -> DataFrame:
        return self.fit(df).transform(df)

    @staticmethod
    def validate_columns(
        df: DataFrame, columns, target: Optional[str] = None
    ) -> None:
        """Check referenced columns exist and the ``target`` output column
        does not — case-insensitive, matching Spark's default resolution
        (reference ``pw/pyspark/util.py:38-57``)."""
        available = {c.lower() for c in df.columns}
        for column in columns or ():
            if column is not None and column.lower() not in available:
                raise ValueError(
                    f"Column {column!r} does not exist. "
                    f"Available columns: {df.columns}"
                )
        if target is not None and target.lower() in available:
            raise ValueError(f"target column {target!r} already exists")
