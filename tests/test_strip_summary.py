"""Pins `operators/ml.py::_strip_summary`: it drops training summaries
in place on the JVM models (recursing into Pipeline stages and
OneVsRest sub-models), which keeps a model serializable into its
transform closure in a session that has served an `observe()` query
(the conftest's poison), and leaves predictions equal to those of a
save/load round trip of the same fit.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest

from sparkml_spark.operators.ml import _HAS_SUMMARY

from .conftest import SF_DIR


def _jvm_models(model):
    """The JVM objects of `model` and of every model nested in it."""
    from pyspark.ml import PipelineModel
    from pyspark.ml.classification import OneVsRestModel

    if isinstance(model, PipelineModel):
        return [j for s in model.stages for j in _jvm_models(s)]
    if isinstance(model, OneVsRestModel):
        return [model._java_obj] + [j for m in model.models for j in _jvm_models(m)]
    return [model._java_obj]


def _summarized(spark, model):
    from py4j.java_gateway import is_instance_of

    gw = spark.sparkContext._gateway
    return [j for j in _jvm_models(model) if is_instance_of(gw, j, _HAS_SUMMARY) and j.hasSummary()]


def _roundtrip(model):
    path = tempfile.mkdtemp(prefix="sparkml_strip_test_")
    try:
        model.write().overwrite().save("file://" + path)
        return type(model).load("file://" + path)
    finally:
        shutil.rmtree(path, ignore_errors=True)


def _rows(model, test, cols):
    return sorted(tuple(r) for r in model.transform(test).select("vec_id", *cols).collect())


def _estimator(name):
    """A fresh estimator and the output columns its predictions compare."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LinearSVC, LogisticRegression, OneVsRest
    from pyspark.ml.clustering import KMeans

    return {
        "kmeans": (KMeans(k=16, seed=42), ["prediction"]),
        "pipeline_lr": (
            Pipeline(stages=[LogisticRegression(maxIter=10, regParam=0.01)]),
            ["prediction", "rawPrediction", "probability"],
        ),
        "ovr_linear_svc": (
            OneVsRest(classifier=LinearSVC(maxIter=5, regParam=0.05)),
            ["prediction", "rawPrediction"],
        ),
    }[name]


@pytest.mark.parametrize("name", ["kmeans", "ovr_linear_svc", "pipeline_lr"])
def test_strip_summary_in_place_matches_roundtrip(spark, name):
    from sparkml_spark.operators.ml import _features, _strip_summary, _train_test

    est, cols = _estimator(name)
    train, test = _train_test(_features(spark, SF_DIR))
    fitted = est.fit(train)
    assert _summarized(spark, fitted), "the fit should carry a summary to strip"
    loaded = _roundtrip(fitted)

    assert _strip_summary(fitted) is fitted
    assert _summarized(spark, fitted) == []
    assert _rows(fitted, test, cols) == _rows(loaded, test, cols)


def test_stripped_ovr_scores_in_observe_poisoned_session(spark):
    """An unstripped OneVsRest(LinearSVC) model dies with `Task not
    serializable` in the conftest's session; stripped, it scores."""
    from pyspark.ml.classification import LinearSVC, OneVsRest

    from sparkml_spark.operators.ml import _features, _strip_summary, _train_test

    train, test = _train_test(_features(spark, SF_DIR))
    ovr = OneVsRest(classifier=LinearSVC(maxIter=5, regParam=0.05)).fit(train)
    with pytest.raises(Exception, match="not serializable"):
        ovr.transform(test).collect()
    rows = _strip_summary(ovr).transform(test).collect()
    assert len(rows) == test.count()
