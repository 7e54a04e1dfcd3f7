"""Pandas engine: single-process wranglers with the same API and
semantics as the Spark ones.

The reference ships complete pandas + PySpark engines
(``pw/pandas/wranglers/interval_identifier.py``); this module completes
that parity line. The per-group algorithm is the *sequential executable
spec* (``testing.spec``) that also property-checks the Spark window
implementation — one source of truth for the semantics, two engines.

Use for small-data/debug workflows; the Spark engine is the scale path.
"""

from __future__ import annotations

import re
from typing import Any, Sequence, Union

import numpy as np
import pandas as pd

from pywrangler_spark.operators.interval_identifier import IntervalParams
from pywrangler_spark.operators.spandedup import check_span_params
from pywrangler_spark.testing.spec import naive_interval_ids
from pywrangler_spark.util import ensure_iterable


class PandasIntervalIdentifier(IntervalParams):
    """IntervalIdentifier on pandas DataFrames.

    Same parameter contract as the Spark
    :class:`~pywrangler_spark.operators.interval_identifier.IntervalIdentifier`
    (:class:`~pywrangler_spark.operators.interval_identifier.IntervalParams`);
    unlike Spark, ``orderby_columns`` may be omitted (pandas frames have
    an implicit order). Output preserves the input index and row order.
    """

    @property
    def computation_engine(self) -> str:
        return "pandas"

    def fit(self, df: pd.DataFrame) -> "PandasIntervalIdentifier":
        return self

    def transform(self, df: pd.DataFrame) -> pd.DataFrame:
        if df.empty:
            raise ValueError("empty DataFrame")
        missing = [
            c
            for c in (
                self.marker_column,
                *self.orderby_columns,
                *self.groupby_columns,
            )
            if c not in df.columns
        ]
        if missing:
            raise ValueError(f"columns do not exist: {missing}")
        if self.target_column_name in df.columns:
            raise ValueError(
                f"target column {self.target_column_name!r} already exists"
            )

        ordered = df
        if self.orderby_columns:
            ordered = df.sort_values(
                list(self.orderby_columns),
                ascending=list(self.ascending),
                kind="mergesort",
            )
        if self.groupby_columns:
            grouper = ordered.groupby(
                list(self.groupby_columns), sort=False, dropna=False
            )[self.marker_column]
        else:
            grouper = ordered.groupby(
                np.zeros(len(ordered)), sort=False
            )[self.marker_column]

        ids = grouper.transform(
            lambda s: pd.Series(
                naive_interval_ids(
                    [None if pd.isna(v) else v for v in s]
                    if s.dtype == object
                    else list(s),
                    self.marker_start,
                    self.marker_end,
                    self.marker_start_use_first,
                    self.marker_end_use_first,
                    self.result_type,
                ),
                index=s.index,
            )
        )
        out = df.copy()
        out[self.target_column_name] = ids.reindex(df.index).astype("int64")
        return out

    def fit_transform(self, df: pd.DataFrame) -> pd.DataFrame:
        return self.fit(df).transform(df)


def pandas_ffill(
    columns: Union[str, Sequence[str]],
    groupby_columns: Union[str, Sequence[str]] = (),
    orderby_columns: Union[str, Sequence[str]] = (),
) -> Any:
    """Pandas twin of ``operators.fill.ffill`` — same signature, same
    semantics (ordered per-group forward fill, original row order and
    index preserved). ``pdf.pipe(pandas_ffill("x", "g", "t"))``."""
    return _pandas_fill(columns, groupby_columns, orderby_columns, True)


def pandas_bfill(
    columns: Union[str, Sequence[str]],
    groupby_columns: Union[str, Sequence[str]] = (),
    orderby_columns: Union[str, Sequence[str]] = (),
) -> Any:
    """Pandas twin of ``operators.fill.bfill``."""
    return _pandas_fill(columns, groupby_columns, orderby_columns, False)


def _pandas_fill(columns, groupby_columns, orderby_columns, forward):
    cols = list(ensure_iterable(columns))
    groups = list(ensure_iterable(groupby_columns))
    order = list(ensure_iterable(orderby_columns))
    if not cols:
        raise ValueError("fill requires at least one column")
    if not order:
        raise ValueError("fill requires orderby_columns (fills are ordered)")

    def _transform(df: pd.DataFrame) -> pd.DataFrame:
        ordered = df.sort_values(order, kind="stable")
        grouped = ordered.groupby(groups, dropna=False)[cols] if groups else ordered[cols]
        filled = grouped.ffill() if forward else grouped.bfill()
        out = df.copy()
        out[cols] = filled.reindex(df.index)
        return out

    return _transform


def pandas_sessionize_gap(
    ts_column: str,
    gap_seconds: float,
    groupby_columns: Union[str, Sequence[str]],
    target_column_name: str = "session_id",
) -> Any:
    """Pandas twin of ``operators.sessionize.sessionize_gap`` — same
    signature and semantics (1..n per group, split when the gap to the
    previous event exceeds ``gap_seconds``). Original row order and
    index preserved. ``pdf.pipe(pandas_sessionize_gap("ts", 3600, "u"))``."""
    groups = list(ensure_iterable(groupby_columns))
    if not groups:
        raise ValueError("sessionize_gap requires groupby_columns")

    def _transform(df: pd.DataFrame) -> pd.DataFrame:
        ordered = df.sort_values([*groups, ts_column], kind="stable")
        ts = pd.to_datetime(ordered[ts_column])
        # resolution-safe epoch seconds: pandas 2.x series can be
        # datetime64[us] (the parquet fixture shape) or [ns] — a raw
        # astype("int64")/1e9 silently mis-scales for [us]
        secs = (ts - pd.Timestamp(0)).dt.total_seconds()
        prev = secs.groupby([ordered[g] for g in groups], dropna=False).shift(1)
        boundary = (prev.isna() | ((secs - prev) > float(gap_seconds))).astype(
            "int64"
        )
        sid = boundary.groupby([ordered[g] for g in groups], dropna=False).cumsum()
        out = df.copy()
        out[target_column_name] = sid.reindex(df.index)
        return out

    return _transform


def _hash56_py(s: str) -> int:
    """Python twin of ``functions.hashing.hash56`` (md5 first 14 hex)."""
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:14], 16)


def _normalize_py(s: str) -> str:
    """Python twin of ``functions.text.normalize_text``. The whitespace
    class is spelled out because Python's ``\\s`` is Unicode-aware (it
    would split on NBSP etc.) while the JVM/DuckDB ``\\s`` the Spark
    operators and oracles use is ASCII-only."""
    import re

    return re.sub(r"[ \t\n\r\f\x0b]+", " ", str(s).lower()).strip()


def _gram_hashes_py(text, n: int) -> set:
    """Distinct word n-gram hash56 set — twin of
    ``operators.dedup.gram_hash_stream``. NULL/empty text has
    no words, hence no grams (matching the Spark NULL-propagation and
    empty-gram filter)."""
    if text is None or (isinstance(text, float) and np.isnan(text)):
        return set()
    norm = _normalize_py(text)
    if norm == "":
        return set()
    w = norm.split(" ")
    if len(w) < n:
        return set()
    return {
        _hash56_py(" ".join(w[i : i + n])) for i in range(len(w) - n + 1)
    }


def pandas_contamination_overlap(
    eval_df: pd.DataFrame,
    id_column: str = "doc_id",
    text_column: str = "text",
    n: int = 5,
    min_overlap: int = 1,
) -> Any:
    """Pandas twin of ``operators.decontaminate.contamination_overlap``
    — same signature and md5-gram semantics; appends ``n_overlap`` and
    ``contaminated``."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if min_overlap < 1:
        raise ValueError(f"min_overlap must be >= 1, got {min_overlap}")

    eval_grams: set = set()
    for t in eval_df[text_column]:
        eval_grams |= _gram_hashes_py(t, n)

    def _transform(df: pd.DataFrame) -> pd.DataFrame:
        out = df.copy()
        out["n_overlap"] = [
            len(_gram_hashes_py(t, n) & eval_grams) for t in df[text_column]
        ]
        out["n_overlap"] = out["n_overlap"].astype("int64")
        out["contaminated"] = out["n_overlap"] >= min_overlap
        return out

    return _transform


def _span_grams(text, n: int) -> list:
    """``(start position, hash56)`` of every word n-gram of ``text``:
    the positional gram stream of ``operators.spandedup``."""
    if text is None or (isinstance(text, float) and np.isnan(text)):
        return []
    norm = _normalize_py(text)
    if norm == "":
        return []
    w = norm.split(" ")
    return [
        (i, _hash56_py(" ".join(w[i : i + n])))
        for i in range(len(w) - n + 1)
    ]


def _covered_positions(
    df: pd.DataFrame, id_column: str, text_column: str, n: int, min_docs: int
) -> dict:
    """Document id -> the token positions covered by some n-gram that
    occurs in ``min_docs``+ distinct documents (the span twins' mask)."""
    per_doc = {
        r[id_column]: _span_grams(r[text_column], n)
        for _, r in df.iterrows()
    }
    docs_per_gram: dict = {}
    for doc, grams in per_doc.items():
        for _, gh in grams:
            docs_per_gram.setdefault(gh, set()).add(doc)
    dup = {g for g, d in docs_per_gram.items() if len(d) >= min_docs}
    return {
        doc: {
            p for pos, gh in grams if gh in dup for p in range(pos, pos + n)
        }
        for doc, grams in per_doc.items()
    }


def pandas_mask_duplicate_spans(
    id_column: str = "doc_id",
    text_column: str = "text",
    n: int = 5,
    min_docs: int = 2,
) -> Any:
    """Pandas twin of ``operators.spandedup.mask_duplicate_spans`` —
    same md5-gram semantics; appends ``n_masked`` and ``dup_ratio``."""
    check_span_params(n, min_docs)

    def _transform(df: pd.DataFrame) -> pd.DataFrame:
        covered = _covered_positions(df, id_column, text_column, n, min_docs)
        out = df.copy()
        masked, ratios = [], []
        for _, r in df.iterrows():
            n_cov = len(covered[r[id_column]])
            norm = _normalize_py(r[text_column]) if r[text_column] is not None else ""
            n_tok = 0 if norm == "" else len(norm.split(" "))
            masked.append(n_cov)
            ratios.append(n_cov / n_tok if n_tok > 0 else 0.0)
        out["n_masked"] = pd.Series(masked, index=df.index, dtype="int64")
        out["dup_ratio"] = pd.Series(ratios, index=df.index, dtype="float64")
        return out

    return _transform


def pandas_shuffle_to_shards(
    id_column: str,
    num_shards: int,
    seed: Union[int, str] = 42,
    shard_column: str = "shard",
    position_column: str = "pos",
) -> Any:
    """Pandas twin of ``operators.shard.shuffle_to_shards`` — identical
    hash-derived shard + within-shard position on any engine."""
    if num_shards < 1:
        raise ValueError(f"num_shards must be >= 1, got {num_shards}")

    def _transform(df: pd.DataFrame) -> pd.DataFrame:
        out = df.copy()
        h = pd.Series(
            [
                _hash56_py(f"{seed}:{v}")
                for v in df[id_column].astype("string")
            ],
            index=df.index,
            dtype="int64",
        )
        out[shard_column] = (h % num_shards).astype("int64")
        order = pd.DataFrame(
            {"h": h, "id": df[id_column], "s": out[shard_column]}
        ).sort_values(["h", "id"], kind="stable")
        out[position_column] = (
            order.groupby("s").cumcount().reindex(df.index).astype("int64")
        )
        return out

    return _transform


def pandas_latest_by_key(
    key_columns: Union[str, Sequence[str]],
    order_column: str,
    tiebreak_columns: Union[str, Sequence[str]] = (),
) -> Any:
    """Pandas twin of ``operators.latest.latest_by_key`` — same
    signature: keep each key's row with the greatest ``order_column``
    (ties resolved by ``tiebreak_columns``, greatest wins)."""
    keys = list(ensure_iterable(key_columns))
    ties = list(ensure_iterable(tiebreak_columns))
    if not keys:
        raise ValueError("latest_by_key requires at least one key column")

    def _transform(df: pd.DataFrame) -> pd.DataFrame:
        # na_position="first": a NaN/NaT ordering value must LOSE to any
        # non-null value, matching Spark's max_by struct ordering
        # (nulls-smallest) — pandas' default puts NaN last, which would
        # crown the null row
        ordered = df.sort_values(
            [order_column, *ties], kind="stable", na_position="first"
        )
        return ordered.groupby(keys, as_index=False, sort=False).tail(1)

    return _transform


def pandas_excise_duplicate_spans(
    id_column: str = "doc_id",
    text_column: str = "text",
    n: int = 5,
    min_docs: int = 2,
    output_column: str = "masked_text",
    preserve_whitespace: bool = False,
) -> Any:
    """Pandas twin of ``operators.spandedup.excise_duplicate_spans`` —
    appends the text with duplicated-span tokens removed (normalized,
    or byte-faithful to the original with ``preserve_whitespace``)."""
    check_span_params(n, min_docs)

    def _transform(df: pd.DataFrame) -> pd.DataFrame:
        covered = _covered_positions(df, id_column, text_column, n, min_docs)
        out = df.copy()
        rebuilt = []
        for _, r in df.iterrows():
            text = r[text_column]
            if text is None or (
                isinstance(text, float) and np.isnan(text)
            ):
                rebuilt.append(None)
                continue
            cov = covered[r[id_column]]
            if preserve_whitespace:
                if not cov:
                    rebuilt.append(text)  # clean doc: byte-identical
                    continue
                # same segment walk as the Spark aggregate: a masked
                # token drops with the whitespace run before it
                segs = re.findall(r"\S+|\s+", text)
                i, pend, parts = 0, "", []
                for seg in segs:
                    if seg[0].isspace():
                        pend = seg
                    elif i in cov:
                        pend = ""
                        i += 1
                    else:
                        parts.append(pend)
                        parts.append(seg)
                        pend = ""
                        i += 1
                rebuilt.append("".join(parts) + pend)
                continue
            toks = _normalize_py(text).split(" ")
            rebuilt.append(
                " ".join(
                    t for i, t in enumerate(toks) if i not in cov
                )
            )
        out[output_column] = pd.Series(rebuilt, index=df.index)
        return out

    return _transform


def pandas_winsorize(
    columns,
    lower: float = 0.05,
    upper: float = 0.95,
    group_by=None,
) -> Any:
    """Pandas twin of ``operators.clean.winsorize`` — same exact
    percentile (linear interpolation) cutoffs rounded to 6 dp."""
    cols = [columns] if isinstance(columns, str) else list(columns)
    groups = (
        [group_by] if isinstance(group_by, str) else list(group_by or [])
    )

    def _transform(df: pd.DataFrame) -> pd.DataFrame:
        out = df.copy()

        def _clip(part: pd.DataFrame) -> pd.DataFrame:
            for c in cols:
                lo = round(part[c].quantile(lower), 6)
                hi = round(part[c].quantile(upper), 6)
                part[c] = part[c].clip(lo, hi)
            return part

        if groups:
            return (
                out.groupby(groups, group_keys=False, dropna=False)[out.columns]
                .apply(_clip)
            )
        return _clip(out)

    return _transform


def pandas_impute(
    columns,
    strategy: str = "median",
    group_by=None,
) -> Any:
    """Pandas twin of ``operators.clean.impute`` (median/mean, rounded
    to 6 dp; mode breaks ties on the smaller value)."""
    cols = [columns] if isinstance(columns, str) else list(columns)
    groups = (
        [group_by] if isinstance(group_by, str) else list(group_by or [])
    )

    def _fill_value(s: pd.Series):
        if strategy == "median":
            return round(s.median(), 6)
        if strategy == "mean":
            return round(s.mean(), 6)
        counts = s.dropna().value_counts()
        if counts.empty:
            return np.nan
        top = counts.max()
        return min(v for v, n in counts.items() if n == top)

    def _transform(df: pd.DataFrame) -> pd.DataFrame:
        out = df.copy()

        def _fill(part: pd.DataFrame) -> pd.DataFrame:
            for c in cols:
                part[c] = part[c].fillna(_fill_value(part[c]))
            return part

        if groups:
            return (
                out.groupby(groups, group_keys=False, dropna=False)[out.columns]
                .apply(_fill)
            )
        return _fill(out)

    return _transform
