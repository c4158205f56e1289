"""r14 block-hygiene gates (VERDICT r13 #2): lazy `_ckpt` localCheckpoint
blocks and per-query `.cache()` entries must be freeable DETERMINISTICALLY
at sweep boundaries — `session.reap_registered` frees what the query path
registered, and a reaped query recomputes correctly when re-built.

Also pins the r14 session-artifact memo (VERDICT r13 #1/#3): a second
invocation of a fit-heavy query in the same session must reuse the
session's fitted artifact (identity-equal model object), and its output
must be identical to the first invocation's. The memo key fingerprints
the fit's inputs, so a changed training frame refits instead of sharing,
and an emptied memo refits to the same output.
"""

from __future__ import annotations

import sparkml_spark.operators  # noqa: F401 — populates the registry

from .conftest import SF_DIR


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def test_ckpt_blocks_register_and_reap(spark):
    from sparkml_spark.registry import QUERIES
    from sparkml_spark.session import persistent_rdd_count, reap_registered

    reap_registered(spark)  # clean slate (frees earlier tests' leftovers)
    base = persistent_rdd_count(spark)

    df = QUERIES["dedup_ngram_jaccard"](spark, SF_DIR)
    _noop(df)
    n1 = df.count()
    assert persistent_rdd_count(spark) > base, "expected _ckpt blocks to register"

    n = reap_registered(spark)
    assert n >= 1
    assert persistent_rdd_count(spark) <= base

    # a reaped query REBUILDS and recomputes correctly (fresh plan,
    # fresh checkpoints) — the reap must not poison later invocations
    df2 = QUERIES["dedup_ngram_jaccard"](spark, SF_DIR)
    assert df2.count() == n1
    reap_registered(spark)


def test_cache_blocks_register_and_reap(spark):
    from sparkml_spark.registry import QUERIES
    from sparkml_spark.session import persistent_rdd_count, reap_registered

    reap_registered(spark)
    base = persistent_rdd_count(spark)

    df = QUERIES["graph_label_propagation"](spark, SF_DIR)
    _noop(df)
    assert persistent_rdd_count(spark) > base, "expected round caches to register"

    reap_registered(spark)
    assert persistent_rdd_count(spark) <= base

    # unpersisted caches recompute — same census, no read-after-free
    rows = {r["label"]: r["n_nodes"] for r in df.collect()}
    assert sum(rows.values()) > 0


def test_session_artifact_memo_shares_fits(spark):
    from sparkml_spark.registry import QUERIES
    from sparkml_spark.session import _ARTIFACTS, reap_registered

    app = spark.sparkContext.applicationId
    _ARTIFACTS.clear()  # an earlier test may already hold this fit
    before = set(_ARTIFACTS)
    df1 = QUERIES["ml_classify_logistic"](spark, SF_DIR)
    r1 = sorted(tuple(r) for r in df1.collect())
    keys = [k for k in set(_ARTIFACTS) - before if k[0] == app]
    assert keys, "expected the logistic fit to be memoized"
    model_first = _ARTIFACTS[keys[0]]

    # the bound twin audits the SAME fitted object, and the base query
    # rebuilt in-session reuses it — outputs identical
    df2 = QUERIES["ml_classify_logistic"](spark, SF_DIR)
    r2 = sorted(tuple(r) for r in df2.collect())
    assert _ARTIFACTS[keys[0]] is model_first
    assert r1 == r2
    bound = QUERIES["ml_fit_quality_bound"](spark, SF_DIR)
    assert [r["n_violations"] for r in bound.collect()] == [0]
    reap_registered(spark)


def test_memo_refits_on_changed_input(spark):
    """The memo key fingerprints the training frame: the same estimator
    fit on a filtered input is a new entry and a different model, and
    rebuilding the original input hits the original entry."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.sql import functions as F

    from sparkml_spark.operators.ml import _features, _train_test
    from sparkml_spark.session import _ARTIFACTS, session_artifact

    def fit(train):
        lr = LogisticRegression(maxIter=5, regParam=0.01)
        return session_artifact(spark, (lr, train), lambda: lr.fit(train))

    train, _test = _train_test(_features(spark, SF_DIR))
    m1 = fit(train)
    n = len(_ARTIFACTS)
    m2 = fit(train.filter(F.col("vec_id") > 3))
    assert len(_ARTIFACTS) == n + 1
    assert m2 is not m1
    train_again, _ = _train_test(_features(spark, SF_DIR))
    assert fit(train_again) is m1
    assert len(_ARTIFACTS) == n + 1


def test_estimator_fingerprint_ignores_uids_and_sees_nested_params(spark):
    """Estimators fingerprint by class and param values, recursing into
    a tuning estimator's estimator, evaluator and grid: rebuilding one
    with fresh uids matches, changing a nested value does not."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    from sparkml_spark.session import _fingerprint

    def cv(max_iter=15, grid=(0.01, 0.5)):
        lr = LogisticRegression(maxIter=max_iter)
        return CrossValidator(
            estimator=lr,
            estimatorParamMaps=ParamGridBuilder().addGrid(lr.regParam, list(grid)).build(),
            evaluator=MulticlassClassificationEvaluator(metricName="accuracy"),
            numFolds=2,
        )

    app = spark.sparkContext.applicationId
    base = _fingerprint(app, cv())
    assert _fingerprint(app, cv()) == base
    assert _fingerprint(app, cv(max_iter=16)) != base
    assert _fingerprint(app, cv(grid=(0.01, 0.4))) != base


def test_memo_shares_fit_between_query_and_bound_twin(spark):
    """The bound twin reuses the logistic fit and adds one entry: the
    IVF quantizer that sim_ivf_ann probes."""
    from sparkml_spark.operators.llm_similarity import build_ivf_index
    from sparkml_spark.registry import QUERIES
    from sparkml_spark.session import _ARTIFACTS

    _ARTIFACTS.clear()
    QUERIES["ml_classify_logistic"](spark, SF_DIR)
    first = dict(_ARTIFACTS)
    assert len(first) == 1
    QUERIES["ml_fit_quality_bound"](spark, SF_DIR)
    assert all(k in _ARTIFACTS and _ARTIFACTS[k] is v for k, v in first.items())
    (new_key,) = set(_ARTIFACTS) - set(first)
    assert _ARTIFACTS[new_key] is build_ivf_index(spark, SF_DIR)
    (key,) = first
    assert _ARTIFACTS[key] is first[key]


def test_quality_bound_warm_build_launches_no_jobs(spark):
    """Once its logistic fit and IVF quantizer are memoized, rebuilding
    ml_fit_quality_bound launches no Spark job and adds no memo entry."""
    from sparkml_spark.registry import QUERIES
    from sparkml_spark.session import _ARTIFACTS

    sc = spark.sparkContext

    def build_jobs(group):
        sc.setJobGroup(group, group)
        try:
            QUERIES["ml_fit_quality_bound"](spark, SF_DIR)
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    _ARTIFACTS.clear()
    assert build_jobs("quality_bound_cold_build") > 0
    n = len(_ARTIFACTS)
    assert build_jobs("quality_bound_warm_build") == 0
    assert len(_ARTIFACTS) == n


def test_cold_refit_is_deterministic(spark):
    """With an empty memo a query refits from scratch; the refit must
    reproduce the first fit's output exactly, so the bound twin that
    audits the session's model sees the same model either way."""
    from sparkml_spark.registry import QUERIES
    from sparkml_spark.session import _ARTIFACTS

    r1 = sorted(tuple(r) for r in QUERIES["ml_classify_logistic"](spark, SF_DIR).collect())
    _ARTIFACTS.clear()
    r2 = sorted(tuple(r) for r in QUERIES["ml_classify_logistic"](spark, SF_DIR).collect())
    assert r1 == r2
    bound = QUERIES["ml_fit_quality_bound"](spark, SF_DIR)
    assert [r["n_violations"] for r in bound.collect()] == [0]


def test_registry_drops_entries_of_stopped_sessions(spark):
    from sparkml_spark import session

    session.reap_registered(spark)
    session._REAPABLE.append(("app-stopped-long-ago", 12345))
    session.reap_later(spark.range(3).cache())
    session.reap_later(spark.range(2))  # owns no blocks: not registered
    assert [a for a, _ in session._REAPABLE] == [spark.sparkContext.applicationId]
    assert session.reap_registered(spark) == 1
