"""Model-based text classification — the trained-filter slot of a
corpus pipeline (fastText-style architecture: hashed bag-of-n-gram
features into a linear classifier; public methodology — Joulin et al.,
"Bag of Tricks for Efficient Text Classification" — re-expressed on
MLlib so fit and serve are both distributed).

Heuristic gates (``operators.quality``) and the unigram LM
(``operators.lmscore``) cover rule-based filtering; this adds the
supervised tier: fit on labeled seed data (a curated "good" set vs a
random web sample is the classic quality-classifier recipe; language
labels work the same way), then score the full corpus.

Scale shape:

- **features**: tokenize with the shared ``words`` semantics, add word
  bigrams, hash into a fixed-width sparse vector (``HashingTF`` —
  JVM-side, deterministic hashing, no vocabulary state to ship);
- **fit**: MLlib LogisticRegression (L-BFGS) — distributed gradient
  aggregation, the one genuinely iterative stage, run once on the
  (small) labeled seed;
- **serve**: the fitted model is a coefficient matrix broadcast by
  MLlib's transform — scoring is a sparse dot product per row,
  scan-side, no shuffle.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pywrangler_spark.functions.text import words


def _featurize(df: DataFrame, text_column: str, n_features: int,
               bigrams: bool) -> DataFrame:
    """Append ``features``: hashed bag of unigrams (+ bigrams)."""
    from pyspark.ml.feature import HashingTF

    toks = F.filter(words(F.col(text_column)), lambda w: w != "")
    if bigrams:
        big = F.zip_with(
            toks,
            # size(toks), not INT_MAX (start + INT_MAX overflows ->
            # empty slice -> zip_with pads all-NULL)
            F.slice(toks, 2, F.size(toks)),
            lambda a, b: F.concat_ws(" ", a, b),
        )
        toks = F.concat(toks, F.filter(big, lambda g: g.contains(" ")))
    with_toks = df.withColumn("_toks", toks)
    tf = HashingTF(
        inputCol="_toks", outputCol="features", numFeatures=n_features
    )
    return tf.transform(with_toks).drop("_toks")


def _threshold_cap(
    df: DataFrame,
    label_column: str,
    text_column: str,
    per_label: int,
    seed,
) -> DataFrame:
    """Per-label uniform sample of ~``per_label`` rows, selected by a
    hash THRESHOLD instead of a ranked window — the fit-cap that
    survives a 2-label corpus at 100 TB.

    The previous cap (``sampling.cap_per_key`` over the label) ranks by
    md5 order with ``row_number`` over ``partitionBy(label)`` — and the
    label column has ~2 distinct values, so the post-shuffle sort runs
    in TWO tasks and carries the full document text (measured at the
    sf100 probe before this rewrite: a ~700 s fit stage dominated by a
    2-task sort). Key-count-degenerate windows don't scale by adding
    data-parallelism; the fix is to not sort at all:

    1. one narrow aggregate counts rows per (label, md5-bucket) — the
       same 10k-bucket hash ``sampling._bucket`` uses, keyed on the
       TEXT so the sample stays uniform, engine-reproducible, and
       independent of row order/partitioning;
    2. the bounded (n_labels x 10k) count table collects to the driver
       (a fit-phase collect, like label discovery) and a per-label
       bucket threshold is chosen so the selected count is the largest
       value <= ``per_label`` on bucket boundaries — always keeping at
       least the first non-empty bucket so no label is dropped;
    3. selection is a pure scan-side filter ``bucket <= threshold``
       against the broadcast threshold map — no shuffle, no sort, no
       text ever moves.

    Granularity: buckets hold ~n/10k rows each, so the realized sample
    size is ``per_label`` within ~0.01% at scale (never above except
    via the >=1-bucket floor; slightly below otherwise). The window cap
    hit ``per_label`` exactly — a 0.01% sample-size wobble is noise to
    the fit, the 2-task sort was not."""
    from pywrangler_spark.operators.sampling import _bucket

    b = _bucket(text_column, seed)
    counts = (
        df.groupBy(F.col(label_column).alias("_lbl"), b.alias("_b"))
        .count()
        .collect()
    )
    per_lbl: dict = {}
    for row in counts:
        per_lbl.setdefault(row["_lbl"], []).append((row["_b"], row["count"]))
    thresholds = {}
    for lbl, buckets in per_lbl.items():
        total = 0
        thr = None
        for bb, cnt in sorted(buckets):
            if thr is not None and total + cnt > per_label:
                break
            total += cnt
            thr = bb
        thresholds[lbl] = thr
    thr_map = F.create_map(
        *[x for lbl, t in thresholds.items()
          for x in (F.lit(lbl), F.lit(int(t)))]
    )
    return df.filter(b <= thr_map[F.col(label_column)])


FIT_BASE_ROWS = 128_000
"""Corpus size (rows) of the validated fit base point."""
FIT_BASE_CAP = 64_000
"""``max_fit_rows`` at the base point."""
FIT_BASE_FEATURES = 1 << 16
"""``n_features`` at the base point."""
FIT_MAX_FEATURES = 1 << 20
"""Ceiling on the scheduled ``n_features``."""


def suggest_fit_params(n_rows: int) -> dict:
    """Capacity schedule for the classifier fit as the corpus grows past
    the validated base point — the ``suggest_ann_params`` treatment
    (capacity derived from one corpus count, not pinned constants).

    Measured rationale (holdout ladder in SCALE.md "Classifier fit
    schedule"): a fixed 64k cap matches the full fit at the scale it
    was validated (0.996 at sf0.1/sf1) but decays as the corpus vocabulary
    outgrows the sample (0.976 at sf10) — the gap is TOKEN COVERAGE,
    and sample size is the lever (iterations/features/regularization
    measured flat). So both levers grow with the data:

    - ``max_fit_rows``: ``FIT_BASE_CAP``, doubled per decade of corpus
      beyond ``FIT_BASE_ROWS`` — fit cost (treeAggregate passes over
      the sample) grows 2x per 10x data, sublinear and bounded, while
      sample vocabulary tracks a Heaps-law corpus (vocab ~ n^0.5 means
      ~3.2x new types per decade; the synthetic key-shifted corpus is
      the linear worst case and still closes most of the gap — same
      ladder);
    - ``n_features``: ``FIT_BASE_FEATURES``, doubled per decade
      alongside the cap (hash-bucket collision rate is vocab/buckets;
      growing the sample without the feature space converts coverage
      into collisions), capped at ``FIT_MAX_FEATURES`` — a 2^20
      coefficient matrix per class is a few MB, still a cheap MLlib
      broadcast.

    Below ``FIT_BASE_ROWS`` the schedule returns the base point
    unchanged — the cap only starts binding where the fit input
    outgrows it."""
    import math

    n_rows = max(int(n_rows), 1)
    decades = max(0.0, math.log10(n_rows / float(FIT_BASE_ROWS)))
    steps = int(round(decades))
    return {
        "max_fit_rows": FIT_BASE_CAP * 2**steps,
        "n_features": min(FIT_MAX_FEATURES, FIT_BASE_FEATURES * 2**steps),
    }


def fit_text_classifier(
    df: DataFrame,
    label_column: str,
    text_column: str = "text",
    n_features: int = 1 << 18,
    bigrams: bool = True,
    reg_param: float = 1e-4,
    max_iter: int = 50,
    seed: int = 42,
    max_fit_rows: int = 0,
):
    """Fit the classifier on labeled seed data. Returns
    ``(model, labels)``: the MLlib LogisticRegressionModel and the
    ordered label list (string label -> model index).

    ``max_fit_rows``: cap the fit on a per-label-stratified sample of at
    most this many rows total (0 = fit on everything). The IVF-centroid
    precedent (``similarity.train_ivf_centroids``): model quality needs
    a bounded sample, not the corpus — every L-BFGS iteration is a full
    treeAggregate pass over the fit input, so an uncapped fit grows
    linearly with corpus scale while the learned linear model stops
    changing (SCALE.md "Classifier fit schedule": the scheduled cap
    holds within 0.06 of the full fit at 100x scale). The sample is a
    per-label md5-bucket THRESHOLD over the TEXT hash
    (:func:`_threshold_cap`) — deterministic across engines, reruns
    and partitionings, uniform within each label, and selected by a
    scan-side filter rather than a ranked window (a window partitioned
    by a 2-value label column sorts the corpus in 2 tasks — the
    degenerate-key trap, measured and removed at the sf100 probe).
    Label discovery still runs on the full input, and the threshold
    always admits a label's first non-empty hash bucket, so rare
    labels are never silently dropped.

    Quota semantics: the cap is split as a PER-LABEL quota of
    ``max(1, max_fit_rows // n_labels)`` rows, realized on md5-bucket
    boundaries (~0.01% granularity at scale; may exceed the quota only
    via the first-bucket floor). Consequences: (a) with more labels
    than ``max_fit_rows`` the 1-bucket floor per label can make the
    fit input EXCEED the nominal cap (never-drop-a-label wins over the
    cap); (b) the division remainder (up to ``n_labels - 1`` rows of
    budget) goes unused, and a label with fewer rows than its quota
    does NOT donate its unused share to skewed labels — redistributing
    would need a second threshold pass to buy back at most
    ``n_labels - 1`` rows, noise at any cap worth setting."""
    from pyspark.ml.classification import LogisticRegression

    labels = [
        r[label_column]
        for r in df.select(label_column)
        .distinct()
        .orderBy(label_column)
        .collect()
    ]
    if len(labels) < 2:
        raise ValueError(
            f"need >= 2 distinct labels, got {len(labels)}"
        )
    if max_fit_rows:
        per_label = max(1, max_fit_rows // len(labels))
        df = _threshold_cap(df, label_column, text_column, per_label, seed)
    idx = {v: float(i) for i, v in enumerate(labels)}
    mapping = F.create_map(
        *[x for v, i in idx.items() for x in (F.lit(v), F.lit(i))]
    )
    feats = _featurize(
        df.withColumn("_label", mapping[F.col(label_column)]),
        text_column, n_features, bigrams,
    )
    lr = LogisticRegression(
        featuresCol="features", labelCol="_label",
        regParam=reg_param, maxIter=max_iter,
    )
    return lr.fit(feats), labels


def score_text_classifier(
    model,
    labels,
    text_column: str = "text",
    n_features: int = 1 << 18,
    bigrams: bool = True,
    prediction_column: str = "predicted_label",
    confidence_column: str = "confidence",
) -> Callable[[DataFrame], DataFrame]:
    """Append the predicted string label and its probability. Serve-only:
    the coefficient matrix rides in the MLlib transform (broadcast), the
    per-row cost is one sparse dot product — scan-side, no shuffle.
    Feature parameters must match the fit."""
    label_arr = F.array(*[F.lit(v) for v in labels])

    def _transform(df: DataFrame) -> DataFrame:
        feats = _featurize(df, text_column, n_features, bigrams)
        scored = model.transform(feats)
        from pyspark.ml.functions import vector_to_array

        probs = vector_to_array(F.col(model.getProbabilityCol()))
        pred = F.col(model.getPredictionCol()).cast("int")
        return scored.select(
            *df.columns,
            F.element_at(label_arr, pred + 1).alias(prediction_column),
            F.round(F.element_at(probs, pred + 1), 6).alias(
                confidence_column
            ),
        )

    _transform.__name__ = "score_text_classifier"
    return _transform
