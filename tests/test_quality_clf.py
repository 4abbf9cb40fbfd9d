"""Trusted-vs-crawl quality classifier (functions/quality_clf.py):
separability on planted corpora, codegen scoring == sigmoid of the
coefficients, zero-shuffle plan, JSON round-trip."""

import json
import math

import pytest
from pyspark.sql import functions as F

from fever_spark.functions.quality_clf import (FEATURE_NAMES,
                                               quality_features,
                                               quality_proba,
                                               train_quality_classifier)

PROSE = [
    "The committee published its findings after a careful review of the "
    "evidence and the many written submissions it had received.",
    "Researchers in the field have long argued that the data support a "
    "more nuanced reading of the historical record than is usual.",
    "She walked along the river in the late afternoon and watched the "
    "light change on the water while the city grew quiet behind her.",
    "The method is simple to describe and surprisingly hard to master, "
    "which is why the tutorial devotes three chapters to practice.",
] * 6

JUNK = [
    "click here BUY NOW $$$ 99.99 !!! free free free win win win",
    "aaaaaa bbbbb ccccc 11111 22222 33333 @@@ ### $$$ %%% ^^^ &&&",
    "home | products | about | contact | login | register | cart | faq",
    "lorem20 lorem20 lorem20 lorem20 lorem20 lorem20 lorem20 lorem20",
] * 6


@pytest.fixture(scope="module")
def model(spark):
    trusted = spark.createDataFrame([(t,) for t in PROSE], "text string")
    crawl = spark.createDataFrame([(t,) for t in JUNK], "text string")
    return train_quality_classifier(trusted, crawl)


class TestTraining:
    def test_separates_planted_corpora(self, spark, model):
        assert model["auc"] > 0.95
        assert set(model["coefficients"]) == set(FEATURE_NAMES)

    def test_model_is_json_roundtrippable(self, spark, model):
        again = json.loads(json.dumps(model))
        assert again["coefficients"] == model["coefficients"]

    def test_driver_path_matches_distributed_path(self, spark, model,
                                                  monkeypatch):
        # `model` trained via the small-sample driver IRLS; threshold 0
        # forces the distributed per-iteration aggregation loop. Same
        # updates, same stop rule — coefficients must agree to float
        # accumulation order (ridge keeps the optimum well-conditioned)
        from fever_spark.functions import quality_clf

        trusted = spark.createDataFrame([(t,) for t in PROSE], "text string")
        crawl = spark.createDataFrame([(t,) for t in JUNK], "text string")
        monkeypatch.setattr(quality_clf, "DRIVER_ROWS_THRESHOLD", 0)
        dist = train_quality_classifier(trusted, crawl)
        for f in FEATURE_NAMES:
            assert model["coefficients"][f] == pytest.approx(
                dist["coefficients"][f], rel=1e-5, abs=1e-7)
        assert model["intercept"] == pytest.approx(
            dist["intercept"], rel=1e-5, abs=1e-7)
        assert dist["auc"] == model["auc"]


class TestScoring:
    def test_prose_scores_above_junk(self, spark, model):
        df = spark.createDataFrame(
            [(0, PROSE[0]), (1, PROSE[1]), (2, JUNK[0]), (3, JUNK[1])],
            "i long, text string")
        got = {r["i"]: r["p"] for r in
               df.select("i", quality_proba(F.col("text"), model)
                         .alias("p")).collect()}
        assert min(got[0], got[1]) > max(got[2], got[3])
        assert got[0] > 0.5 and got[2] < 0.5

    def test_score_equals_manual_sigmoid(self, spark, model):
        """The codegen score must equal sigmoid(w·x + b) computed from the
        feature columns directly."""
        df = spark.createDataFrame([(PROSE[0],), (JUNK[0],)], "text string")
        rows = df.select(*quality_features(F.col("text")),
                         quality_proba(F.col("text"), model)
                         .alias("p")).collect()
        for r in rows:
            z = model["intercept"] + sum(
                model["coefficients"][f] * r[f] for f in FEATURE_NAMES)
            assert r["p"] == pytest.approx(1 / (1 + math.exp(-z)), rel=1e-9)

    def test_scoring_plan_is_shuffle_free(self, spark, model):
        df = spark.createDataFrame([(PROSE[0],)], "text string")
        plan = df.select(quality_proba(F.col("text"), model)) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
