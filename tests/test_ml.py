"""ML ranking pipeline invariants (SURVEY §5: the reference's printed
checks become real asserts — rank permutation, winners-vs-losers, save/load
parity, leak-free split)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def silver(spark):
    from aram_matchdata_etl_spark.ml.ranking import silver_with_derived

    return silver_with_derived(spark, SF_SMOKE).cache()


@pytest.fixture(scope="module")
def ensemble_and_eval(spark, silver):
    from aram_matchdata_etl_spark.ml.ranking import (
        evaluate,
        match_level_split,
        train_ensemble,
    )

    train, test = match_level_split(silver)
    ens = train_ensemble(train)
    pred = ens.predict(test)
    return ens, pred, evaluate(pred)


def test_label_rank_is_permutation_with_ties(silver):
    """rank_in_match per match: min rank 1, max <= team size, RANK-style
    gaps (feature_factory.py:139-143)."""
    stats = (
        silver.groupBy("match_id")
        .agg(
            F.min("rank_in_match").alias("lo"),
            F.max("rank_in_match").alias("hi"),
            F.count("*").alias("n"),
        )
        .agg(
            F.max(F.col("lo")).alias("max_lo"),
            F.max(F.col("hi") > F.col("n")).alias("bad_hi"),
        )
        .first()
    )
    assert stats.max_lo == 1
    assert stats.bad_hi is False


def test_winners_rank_better_than_losers(silver):
    """test_labeling.py:79-89: winners' mean label rank < losers'."""
    rows = silver.groupBy("win").agg(F.avg("rank_in_match").alias("avg_rank")).collect()
    by_win = {r.win: r.avg_rank for r in rows}
    assert by_win[True] < by_win[False]


def test_death_share_sums_to_one_per_team(silver):
    """FIXTURES §4: sum(death_share) over a team ≈ 1 when team_deaths > 0."""
    team = silver.groupBy("match_id", "team_id").agg(
        F.sum("death_share").alias("s"), F.sum("deaths").alias("d")
    )
    bad = team.filter((F.col("d") > 0) & (F.abs(F.col("s") - 1.0) > 1e-9))
    assert bad.count() == 0


def test_split_is_leak_free(spark, silver):
    from aram_matchdata_etl_spark.ml.ranking import match_level_split

    train, test = match_level_split(silver)
    overlap = train.select("match_id").intersect(test.select("match_id"))
    assert overlap.count() == 0
    assert train.count() + test.count() == silver.count()
    # whole matches stay together: every match keeps its full 10 rows
    sizes = test.groupBy("match_id").count().filter(F.col("count") != 10)
    assert sizes.count() == 0


def test_split_is_partitioning_independent(silver):
    """The side of a match is a function of its match_id alone: the same
    test matches come out however the input is partitioned, and about
    test_frac of the matches land in test."""
    from aram_matchdata_etl_spark.ml.ranking import match_level_split

    def test_ids(df):
        _, test = match_level_split(df)
        return {r.match_id for r in test.select("match_id").distinct().collect()}

    ids = test_ids(silver)
    assert ids == test_ids(silver.repartition(7))
    n_matches = silver.select("match_id").distinct().count()
    assert 0.15 <= len(ids) / n_matches <= 0.25, len(ids) / n_matches


def _lr():
    from pyspark.ml.regression import LinearRegression

    from aram_matchdata_etl_spark.ml.ranking import LABEL

    return LinearRegression(labelCol=LABEL, featuresCol="features", regParam=0.01)


def test_featurizer_matches_spark_ml_reference(silver):
    """Featurizer applies the fitted indexer→assembler→robust-scaler as
    column expressions: on the clipped train split plus one row with an
    unseen champion (the handleInvalid="keep" index), its dense
    ``features`` equal the Spark ML pipeline's element for element,
    including the zero-range column's, and carry the same metadata."""
    import numpy as np
    from pyspark.ml.linalg import DenseVector

    from aram_matchdata_etl_spark.ml.ranking import (
        Featurizer,
        apply_clip,
        build_featurizer,
        fit_clip_bounds,
        match_level_split,
    )

    train, _ = match_level_split(silver)
    train = apply_clip(train, fit_clip_bounds(train))
    unseen = train.limit(1).withColumn("champion", F.lit("no-such-champion"))
    df = train.unionByName(unseen).cache()
    ours = Featurizer.fit(train)
    assert "no-such-champion" not in ours.labels
    assert 0.0 in ours.quantile_range

    def features(fitted):
        out = fitted.transform(df)
        rows = out.select("row_uid", "champion", "features").collect()
        return out.schema["features"].metadata, {(r.row_uid, r.champion): r.features for r in rows}

    (meta_a, a), (meta_b, b) = features(ours), features(build_featurizer().fit(train))
    df.unpersist()
    assert meta_a == meta_b
    assert a.keys() == b.keys() and len(a) == train.count() + 1
    assert all(isinstance(v, DenseVector) for v in (*a.values(), *b.values()))
    keys = sorted(a)
    diff = np.abs(np.stack([a[k].toArray() for k in keys]) - np.stack([b[k].toArray() for k in keys]))
    assert diff.max() == 0.0


def test_featurizer_fits_once_into_one_pipeline(spark, silver):
    """train_ensemble fits the scaler once for all members and all phases
    (one ``collect at RobustScaler.scala`` job), and the fitted ensemble
    is one PipelineModel of one regressor per member: the featurizer is
    kept as statistics, not as stages."""
    from pyspark.ml.regression import DecisionTreeRegressor

    from aram_matchdata_etl_spark.ml.ranking import LABEL, SEED, match_level_split, train_ensemble

    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    no_filter = sc._jvm.java.util.ArrayList()

    def jobs():
        listed = store.jobsList(no_filter)
        return {j.jobId(): j.name() for j in (listed.apply(i) for i in range(listed.size()))}

    before = set(jobs())
    train, _ = match_level_split(silver)
    dt = DecisionTreeRegressor(labelCol=LABEL, featuresCol="features", maxDepth=3, seed=SEED)
    ens = train_ensemble(train, models={"lr": _lr(), "dt": dt})
    scaler_fits = [
        name
        for jid, name in jobs().items()
        if jid not in before and name.startswith("collect at RobustScaler.scala")
    ]
    assert len(scaler_fits) == 1, scaler_fits
    assert len(ens.pipeline.stages) == 2
    assert {k: type(m).__name__ for k, m in ens.models.items()} == {
        "lr": "LinearRegressionModel",
        "dt": "DecisionTreeRegressionModel",
    }


@pytest.fixture(scope="module")
def lr_ensemble(silver):
    from aram_matchdata_etl_spark.ml.ranking import match_level_split, train_ensemble

    train, test = match_level_split(silver)
    return train_ensemble(train, models={"lr": _lr()}), test


def test_lr_ensemble_save_load_parity(tmp_path, lr_ensemble):
    """S13 in the fast tier: the on-disk layout (one pipeline/ directory
    of the member regressors plus meta.json) reproduces every prediction
    exactly."""
    from aram_matchdata_etl_spark.ml.ranking import RankingEnsemble

    ens, test = lr_ensemble
    path = str(tmp_path / "ensemble")
    ens.save(path)
    loaded = RankingEnsemble.load(path)
    assert loaded.weights == ens.weights == {"lr": 1.0}
    assert loaded.clip_bounds == ens.clip_bounds
    assert loaded.featurizer == ens.featurizer
    assert len(os.listdir(f"{path}/pipeline/stages")) == len(ens.models) == 1
    a = ens.predict(test).select("row_uid", "predicted_score", "predicted_rank")
    b = loaded.predict(test).select(
        "row_uid",
        F.col("predicted_score").alias("score_2"),
        F.col("predicted_rank").alias("rank_2"),
    )
    row = (
        a.join(b, "row_uid")
        .agg(
            F.count("*").alias("n"),
            F.max(F.abs(F.col("predicted_score") - F.col("score_2"))).alias("d"),
            F.sum((F.col("predicted_rank") != F.col("rank_2")).cast("int")).alias("moved"),
        )
        .first()
    )
    assert row.n == test.count() > 0
    assert row.d == 0.0 and row.moved == 0


def test_save_load_through_file_uri(tmp_path, lr_ensemble):
    """save/load go through the path's Hadoop FileSystem: for a file://
    URI, meta.json lands inside the model directory next to pipeline/,
    and the ensemble loads back whole."""
    from aram_matchdata_etl_spark.ml.ranking import RankingEnsemble

    ens, _ = lr_ensemble
    model_dir = tmp_path / "ensemble"
    ens.save(model_dir.as_uri())
    assert sorted(p.name for p in model_dir.iterdir() if not p.name.startswith(".")) == [
        "meta.json",
        "pipeline",
    ]
    loaded = RankingEnsemble.load(model_dir.as_uri())
    assert loaded.weights == ens.weights
    assert loaded.clip_bounds == ens.clip_bounds
    assert loaded.featurizer == ens.featurizer
    assert loaded.models["lr"].coefficients == ens.models["lr"].coefficients
    assert loaded.models["lr"].intercept == ens.models["lr"].intercept


@pytest.mark.slow
def test_ensemble_trains_and_ranks(ensemble_and_eval):
    ens, pred, metrics = ensemble_and_eval
    # five models from five DISTINCT estimator families, mirroring the
    # reference's heterogeneous xgb/lgb/rf/et/gbm quintet (modeling.py:16-68)
    assert len(ens.weights) == 5
    assert abs(sum(ens.weights.values()) - 1.0) < 1e-9
    families = {type(m).__name__ for m in ens.models.values()}
    assert len(families) == 5, families
    assert set(ens.clip_bounds) == {"kda", "damage_per_min", "gold_per_min"}
    # predicted_rank is a strict permutation 1..n per match (ROW_NUMBER)
    stats = (
        pred.groupBy("match_id")
        .agg(
            F.min("predicted_rank").alias("lo"),
            F.max("predicted_rank").alias("hi"),
            F.count("*").alias("n"),
            F.countDistinct("predicted_rank").alias("k"),
        )
        .agg(
            F.max(F.col("lo") != 1).alias("bad_lo"),
            F.max(F.col("hi") != F.col("n")).alias("bad_hi"),
            F.max(F.col("k") != F.col("n")).alias("bad_k"),
        )
        .first()
    )
    assert stats.bad_lo is False and stats.bad_hi is False and stats.bad_k is False
    # the model learns SOMETHING: beats the random-rank baseline
    # (mean |Δrank| for random permutations of 10 is 3.3)
    assert metrics["mean_abs_rank_diff"] < 3.0
    assert metrics["rank_acc_2"] > 0.3


@pytest.mark.slow
def test_feature_importances(ensemble_and_eval):
    """modeling.py:215-243 analogue: per-feature cross-model importance
    matrix with mean/std; tree importances are a distribution."""
    from aram_matchdata_etl_spark.ml.ranking import BASE_FEATURES, feature_importances

    ens, _, _ = ensemble_and_eval
    fi = feature_importances(ens)
    assert len(fi) == len(BASE_FEATURES) + 1  # + champion_id
    assert set(ens.models) < set(fi.columns)
    assert (fi["gbt"] >= 0).all() and abs(fi["gbt"].sum() - 1.0) < 1e-6
    assert fi["mean_importance"].iloc[0] >= fi["mean_importance"].iloc[-1]


@pytest.mark.slow
def test_save_load_parity(spark, tmp_path, ensemble_and_eval, silver):
    """S13: persisted ensemble reproduces predictions exactly
    (test_result.txt:321 'max diff = 0.0000000000')."""
    from aram_matchdata_etl_spark.ml.ranking import RankingEnsemble, match_level_split

    ens, pred, _ = ensemble_and_eval
    path = str(tmp_path / "ensemble")
    ens.save(path)
    loaded = RankingEnsemble.load(path)
    assert loaded.weights == ens.weights
    _, test = match_level_split(silver)
    # join on row_uid: puuid can repeat within a match in the synthetic view
    a = pred.select("row_uid", "predicted_score")
    b = loaded.predict(test).select(
        "row_uid", F.col("predicted_score").alias("predicted_score_2")
    )
    joined = a.join(b, ["row_uid"])
    max_diff = joined.agg(
        F.max(F.abs(F.col("predicted_score") - F.col("predicted_score_2")))
    ).first()[0]
    assert max_diff == 0.0
