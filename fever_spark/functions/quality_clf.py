"""Trusted-vs-crawl quality classifier — the GPT-3/LLaMA filtering recipe.

The public pretraining pipelines (GPT-3 appendix A; LLaMA; PaLM) filter
Common Crawl with a linear classifier trained to separate a TRUSTED
corpus (Wikipedia/books/reference pages) from random crawl text, then
keep crawl documents the classifier scores as trusted-like. This module
is that recipe in pure DataFrame operations: featurize with the
library's existing whole-stage-codegen text signals (no tokenizer, no
embedding — one projection), train logistic regression by distributed
Newton–Raphson (IRLS) on trusted∪crawl samples, score the corpus
distributed.

Scale shape: featurization is a codegen projection (zero Python, zero
shuffle); each training iteration is ONE map-side-combined aggregation
whose shuffle volume is O(n_features) regardless of sample size; scoring
inlines the coefficients as literals — one map, no Python, no shuffle.
The model is a plain dict of named coefficients, JSON-serializable.
(MLlib deliberately not used: its RDD-closure training fails with "Task
not serializable: ObservationManager" in any session that ever ran
df.observe, which the sketch jobs do.)
"""

from __future__ import annotations

import math
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fever_spark.functions import text as TXT
from fever_spark.operators.curation import duplicate_word_fraction

__all__ = ["quality_features", "train_quality_classifier", "quality_proba",
           "FEATURE_NAMES"]

FEATURE_NAMES = ["alpha_frac", "punct_frac", "digit_frac", "upper_frac",
                 "mean_word_len", "stopword_frac", "dup_word_frac",
                 "log_n_chars", "line_len_mean"]


def quality_features(text: Column) -> list[Column]:
    """The feature projection, one codegen pass — aliased to
    FEATURE_NAMES order. All cheap surface statistics; the separability
    of prose vs crawl junk lives in their JOINT distribution, which is
    exactly what the linear model learns."""
    n = F.greatest(F.length(text), F.lit(1)).cast("double")
    words = F.greatest(TXT.whitespace_token_count(text), F.lit(1)) \
        .cast("double")
    lines = F.greatest(F.size(F.split(text, "\n")), F.lit(1)).cast("double")
    return [
        (F.regexp_count(text, F.lit(r"[A-Za-z]")) / n).alias("alpha_frac"),
        (F.regexp_count(text, F.lit(r"[^\w\s]")) / n).alias("punct_frac"),
        (F.regexp_count(text, F.lit(r"[0-9]")) / n).alias("digit_frac"),
        (F.regexp_count(text, F.lit(r"[A-Z]")) / n).alias("upper_frac"),
        (n / words).alias("mean_word_len"),
        TXT.stopword_fraction(text).alias("stopword_frac"),
        duplicate_word_fraction(text).alias("dup_word_frac"),
        F.log1p(F.length(text).cast("double")).alias("log_n_chars"),
        (n / lines).alias("line_len_mean"),
    ]


# labeled-sample size at or under which train_quality_classifier runs its
# IRLS on the driver (see there)
DRIVER_ROWS_THRESHOLD = 200_000


def train_quality_classifier(trusted: DataFrame, crawl: DataFrame,
                             text_col: str = "text",
                             max_iter: int = 25,
                             reg_param: float = 0.01) -> dict:
    """Fit LR to separate ``trusted`` (label 1) from ``crawl`` (label 0).

    Distributed Newton–Raphson (IRLS) as plain DataFrame aggregations:
    per iteration, ONE map-side-combined agg computes the full-batch
    logistic gradient and Hessian (the sigmoid and the feature products
    are codegen expressions with the current weights inlined as
    literals; the (d+1)² normal-equation solve is a numpy call on the
    driver); features are standardized from a one-pass moment agg and
    the final coefficients are de-standardized back. No MLlib:
    its RDD-closure training trips "Task not serializable:
    ObservationManager" in any session that ever ran df.observe (the
    sketch jobs do) — and our loop's shuffle volume is O(n_features) per
    iteration regardless of sample size, which IS the scalable shape.

    Samples at or under ``DRIVER_ROWS_THRESHOLD`` rows skip the
    distributed loop: the standardized design matrix is collected once
    (bounded at threshold × (d+1) float64) and the SAME IRLS runs in
    numpy — a few thousand labeled rows don't justify ~17 sequential
    Spark jobs of fixed scheduler overhead. Identical updates, identical
    stop rule.

    Returns a plain-dict model {"coefficients": {name: w}, "intercept":
    b, "auc": train AUC} — JSON-serializable, scored by quality_proba
    with no runtime dependency."""
    from pyspark.sql import Window

    def feats(df, label):
        return df.select(*quality_features(F.col(text_col)),
                         F.lit(label).alias("label"))

    data = feats(trusted, 1.0).unionByName(feats(crawl, 0.0)) \
        .na.fill(0.0).persist()
    try:
        m = data.agg(
            F.count(F.lit(1)).alias("n"),
            *[F.avg(f).alias(f"m_{f}") for f in FEATURE_NAMES],
            *[F.coalesce(F.stddev_pop(f), F.lit(0.0)).alias(f"s_{f}")
              for f in FEATURE_NAMES]).first()
        n = m["n"]
        mean = {f: float(m[f"m_{f}"]) for f in FEATURE_NAMES}
        std = {f: float(m[f"s_{f}"]) or 1.0 for f in FEATURE_NAMES}

        # Newton–Raphson / IRLS: per iteration ONE aggregation computes
        # the full gradient AND the (d+1)² Hessian as codegen sums —
        # quadratic convergence lands in <10 iterations where plain GD
        # needed 100+ Spark jobs (measured 40s → ~4s at sf0.1). Ridge
        # λ keeps the Newton step bounded on separable data.
        import numpy as np

        d = len(FEATURE_NAMES)
        beta = np.zeros(d + 1)  # [w..., b], standardized space

        def newton_step(grad, hess, beta):
            # shared by both paths: ridge on weights (not intercept),
            # jittered solve, convergence on the max step component
            grad = grad.copy()
            hess = hess.copy()
            grad[:d] -= n * reg_param * beta[:d]
            hess[:d, :d] += n * reg_param * np.eye(d)
            return np.linalg.solve(hess + 1e-9 * np.eye(d + 1), grad)

        if n <= DRIVER_ROWS_THRESHOLD:
            # the sequential-iteration tax dominates small samples: ~17
            # Spark jobs of fixed ~0.5s overhead to reduce a few thousand
            # cached rows. Collect the standardized design matrix ONCE
            # (n × (d+1) float64 — 80 MB at the 200k-row default cap,
            # bounded by construction) and run the SAME IRLS in numpy.
            # Corpus-scale labeled sets take the distributed loop below.
            pdf = data.select(*FEATURE_NAMES, "label").toPandas()
            X = np.empty((len(pdf), d + 1))
            for i, f in enumerate(FEATURE_NAMES):
                X[:, i] = (pdf[f].to_numpy(np.float64) - mean[f]) / std[f]
            X[:, d] = 1.0
            y = pdf["label"].to_numpy(np.float64)
            for _ in range(int(max_iter)):
                p = 1.0 / (1.0 + np.exp(-(X @ beta)))
                s = p * (1.0 - p)
                grad = X.T @ (y - p)
                hess = (X * s[:, None]).T @ X
                step = newton_step(grad, hess, beta)
                beta += step
                if float(np.abs(step).max()) < 1e-8:
                    break
        else:
            xcols = [((F.col(f) - F.lit(mean[f])) / F.lit(std[f]))
                     for f in FEATURE_NAMES] + [F.lit(1.0)]
            for _ in range(int(max_iter)):
                z = F.lit(float(beta[-1]))
                for i in range(d):
                    z = z + xcols[i] * F.lit(float(beta[i]))
                p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
                s = p * (F.lit(1.0) - p)
                resid = F.col("label") - p
                exprs = [F.sum(resid * xcols[i]).alias(f"g{i}")
                         for i in range(d + 1)]
                exprs += [F.sum(s * xcols[i] * xcols[j]).alias(f"h{i}_{j}")
                          for i in range(d + 1) for j in range(i, d + 1)]
                row = data.agg(*exprs).first()
                grad = np.array([float(row[f"g{i}"]) for i in range(d + 1)])
                hess = np.zeros((d + 1, d + 1))
                for i in range(d + 1):
                    for j in range(i, d + 1):
                        hess[i, j] = hess[j, i] = float(row[f"h{i}_{j}"])
                step = newton_step(grad, hess, beta)
                beta += step
                if float(np.abs(step).max()) < 1e-8:
                    break

        # de-standardize: w_raw = w/std, b_raw = b - Σ w·mean/std
        w = {f: float(beta[i]) for i, f in enumerate(FEATURE_NAMES)}
        b = float(beta[-1])
        coefs = {f: w[f] / std[f] for f in FEATURE_NAMES}
        intercept = b - sum(w[f] * mean[f] / std[f] for f in FEATURE_NAMES)

        # train AUC via the Mann-Whitney rank statistic (DataFrame-only;
        # global window is fine — one pass over the labeled sample)
        model = {"coefficients": coefs, "intercept": intercept}
        scored = (data.select(
            quality_proba_from_features(model).alias("p"), "label")
            .withColumn("r", F.row_number().over(Window.orderBy("p")))
            .agg(F.sum(F.when(F.col("label") == 1.0, F.col("r")))
                 .alias("rank_sum"),
                 F.sum(F.when(F.col("label") == 1.0, 1).otherwise(0))
                 .alias("n1")).first())
        n1 = scored["n1"]
        n0 = n - n1
        auc = ((float(scored["rank_sum"]) - n1 * (n1 + 1) / 2)
               / (n1 * n0) if n1 and n0 else float("nan"))
    finally:
        data.unpersist()
    return {"coefficients": coefs, "intercept": float(intercept),
            "auc": float(auc), "n_trusted": int(n1), "n_crawl": int(n0)}


def quality_proba_from_features(model: dict) -> Column:
    """Sigmoid of the linear form over ALREADY-COMPUTED feature columns
    (names = FEATURE_NAMES) — the scoring core shared by training's AUC
    pass and quality_proba."""
    z = F.lit(float(model["intercept"]))
    for name in FEATURE_NAMES:
        z = z + F.col(name) * F.lit(float(model["coefficients"][name]))
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def quality_proba(text: Column, model: dict) -> Column:
    """P(trusted-like | doc) under the trained model as a codegen column —
    the coefficient dict inlines into the plan, so scoring 100 TB is one
    projection with no Python, no broadcast variable, no shuffle. Use as
    ``df.filter(quality_proba(F.col('text'), m) >= 0.5)`` or keep the
    column for CCNet-style bucketing."""
    coefs = model["coefficients"]
    feats = quality_features(text)
    z = F.lit(float(model["intercept"]))
    for col, name in zip(feats, FEATURE_NAMES):
        z = z + col * F.lit(float(coefs[name]))
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
