"""CrossValidator and pandas_udf inference (SURVEY §2.10 U3/U4)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def silver(spark):
    from aram_matchdata_etl_spark.ml.ranking import silver_with_derived

    return silver_with_derived(spark, SF_SMOKE).cache()


@pytest.mark.slow
def test_cross_validator_picks_a_model(spark, silver):
    from aram_matchdata_etl_spark.ml.ranking import cross_validate_linear

    cv_model = cross_validate_linear(silver)
    assert len(cv_model.avgMetrics) == 3
    assert all(m > 0 for m in cv_model.avgMetrics)
    pred = cv_model.transform(silver)
    assert pred.filter(F.isnan("prediction") | F.col("prediction").isNull()).count() == 0


def test_cross_validator_fold_fits_actually_overlap(spark, silver):
    """CrossValidator(parallelism=4) must be EXECUTOR-parallel in fact,
    not just in the parameter (r9 verdict item 7: prove fold search
    overlaps, the way train_ensemble's member-fit overlap was proved):
    poll the status tracker while cv.fit runs and require >= 2 Spark
    jobs in flight at once. The 9 fold-fits (3 folds x 3 regParams) on
    the fixture each spawn several jobs, so with 4 submitter threads
    concurrent jobs are observed reliably; a serial fit (parallelism=1)
    never shows more than one."""
    import threading
    import time

    from aram_matchdata_etl_spark.ml.ranking import cross_validate_linear

    tracker = spark.sparkContext.statusTracker()
    peak = [0]
    stop = threading.Event()

    def poll():
        while not stop.is_set():
            peak[0] = max(peak[0], len(tracker.getActiveJobsIds()))
            time.sleep(0.002)

    t = threading.Thread(target=poll, daemon=True)
    t.start()
    try:
        cross_validate_linear(silver)
    finally:
        stop.set()
        t.join(timeout=5)
    assert peak[0] >= 2, (
        f"cv.fit never had concurrent jobs in flight (peak={peak[0]}) — "
        "CrossValidator parallelism is not reaching the scheduler"
    )


@pytest.mark.slow
def test_pandas_udf_inference_matches_spark_ml(spark, silver):
    """The Arrow-vectorized UDF scorer reproduces PipelineModel.transform
    on the SAME features to float tolerance (summation-order only)."""
    from aram_matchdata_etl_spark.ml.ranking import (
        LABEL,
        LinearRegression,
        build_pipeline,
        linear_pandas_udf_scorer,
    )

    lr = LinearRegression(labelCol=LABEL, featuresCol="features", regParam=0.01)
    pm = build_pipeline(lr).fit(silver)
    scored_ml = pm.transform(silver).select("row_uid", "features", "prediction")

    # pandas_udf needs a plain array column, not the ML VectorUDT
    from pyspark.ml.functions import vector_to_array

    udf = linear_pandas_udf_scorer(pm.stages[-1])
    scored_udf = scored_ml.withColumn(
        "prediction_udf", udf(vector_to_array("features"))
    )
    diff = scored_udf.agg(
        F.max(F.abs(F.col("prediction") - F.col("prediction_udf"))).alias("d")
    ).first()["d"]
    assert diff < 1e-9, diff


@pytest.mark.slow
def test_parallel_ensemble_matches_sequential(spark, silver):
    """train_ensemble(parallelism=N) submits the member fits from driver
    threads so their stages interleave across executor slots (the
    CrossValidator parallelism mechanism) — and must be a pure
    scheduling change: same seeds, no shared state, order-independent
    weight normalization => identical weights and predictions. Two
    model families keep the double-train cheap while still exercising
    concurrent fit + evaluate chains."""
    from pyspark.ml.regression import LinearRegression, RandomForestRegressor

    from aram_matchdata_etl_spark.ml.ranking import (
        LABEL,
        SEED,
        match_level_split,
        train_ensemble,
    )

    def two_models():
        return {
            "lin": LinearRegression(
                labelCol=LABEL, featuresCol="features", regParam=0.01
            ),
            "rf": RandomForestRegressor(
                labelCol=LABEL,
                featuresCol="features",
                numTrees=10,
                maxDepth=4,
                seed=SEED + 3,
            ),
        }

    train, test = match_level_split(silver)
    seq = train_ensemble(train, models=two_models(), parallelism=1)
    par = train_ensemble(train, models=two_models(), parallelism=2)
    assert par.weights == pytest.approx(seq.weights, rel=1e-12)
    assert par.clip_bounds == seq.clip_bounds
    # (match_id, puuid) is NOT row-unique in the synthetic fixture, so a
    # keyed join would cross-pair duplicate keys' rows; compare the full
    # prediction multiset instead (row-for-row equality up to order)
    def preds(ens):
        return sorted(
            round(r.predicted_score, 9)
            for r in ens.predict(test).select("predicted_score").collect()
        )

    sa, pb = preds(seq), preds(par)
    assert len(sa) == len(pb) > 0
    assert sa == pytest.approx(pb, abs=1e-9)


@pytest.mark.slow
def test_rank_accuracy_ordering(spark, silver):
    """BASELINE.md ML parity target: rank-accuracy ordering
    exact <= within-1 <= within-2 (and all well-defined)."""
    from aram_matchdata_etl_spark.ml.ranking import (
        evaluate,
        match_level_split,
        train_ensemble,
    )

    train, test = match_level_split(silver)
    ens = train_ensemble(train)
    m = evaluate(ens.predict(test))
    assert 0 <= m["rank_acc_exact"] <= m["rank_acc_1"] <= m["rank_acc_2"] <= 1
    assert m["rmse"] == pytest.approx(m["mse"] ** 0.5, rel=1e-9)
