"""Spark ML re-expression of the reference's ranking-model flow
(/root/reference/transformer/ranking/feature_factory.py:150-339 and
modeling.py:16-277): feature prep → leak-free match-level split →
regressor ensemble → weighted prediction → per-match ROW_NUMBER rank →
save/load round-trip.

Mapping (SURVEY §2.10 / §7 Phase 4):
  champion label-encode + unseen→-1  → StringIndexer(handleInvalid='keep')
  quantile clip fit-on-train         → approxQuantile + least/greatest
  RobustScaler fit/transform         → pyspark.ml.feature.RobustScaler
  match-level train_test_split       → narrow filter on a seeded hash of
                                       match_id (leak-free by construction:
                                       a row's side depends on its match_id
                                       alone; no shuffle, no broadcast)
  encoder/clip/scaler fit once       → ONE indexer→assembler→scaler fit on
                                       the clipped outer train, kept as its
                                       statistics (Featurizer: labels,
                                       medians, ranges) and applied as
                                       column expressions; one persisted
                                       feature frame feeds every validation
                                       and final member fit
  5-model ensemble + inverse-MSE wts → N regressors, weight = (1/mse)/Σ —
                                       the 5 scalar weights are the ONLY
                                       driver-side materialization
  per-match prediction rank          → ROW_NUMBER() window (W2 semantics,
                                       deterministic puuid, row_uid
                                       tie-break)
  joblib persistence                 → preprocessors apart from models, as
                                       in feature_factory.py:316-339: the
                                       featurizer statistics, clip bounds
                                       and weights in meta.json; ONE
                                       PipelineModel of the member
                                       regressors (each writing
                                       pred_<name>) save()/load()

Scale: every fitted statistic (quantiles, scaler medians, indexer labels)
is computed distributed and broadcast back; training data never collects.
Tree ensembles in Spark ML train distributed; inference is a narrow map.
"""

from __future__ import annotations

import json
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, dataclass, field
from functools import reduce
from operator import add

import numpy as np
import pandas as pd

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.evaluation import RegressionEvaluator
from pyspark.ml.feature import RobustScaler, StringIndexer, StringIndexerModel, VectorAssembler
from pyspark.ml.functions import array_to_vector
from pyspark.ml.regression import GBTRegressor, LinearRegression, RandomForestRegressor
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SEED = 42
LABEL = "performance_score"

# feature_factory.py:164-188 minus champion_id (indexed separately)
BASE_FEATURES = [
    "kda",
    "kills",
    "deaths",
    "assists",
    "damage_per_min",
    "damage_taken_per_min",
    "damage_mitigated_per_min",
    "total_damage_share",
    "gold_per_min",
    "cs_per_min",
    "gold_efficiency",
    "cc_time",
    "heal_shield_given",
    "kill_participation",
    "death_share",
    "longest_time_alive",
    "skill_shots_hit",
    "skill_shots_dodged",
    "aggression_index",
    "survival_index",
    "team_contribution",
    "combat_efficiency",
]
# the order of the entries of every ``features`` vector
FEATURES = ["champion_id", *BASE_FEATURES]
CLIP_COLS = ("kda", "damage_per_min", "gold_per_min")  # feature_factory.py:230


def silver_with_derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship silver rows + the four derived indices
    (feature_factory.py:210-227)."""
    from ..operators.match_pipeline import filtered_players, performance_scored, player_features

    df = performance_scored(player_features(filtered_players(spark, sf_dir)))
    label_w = Window.partitionBy("match_id").orderBy(F.desc(LABEL))
    df = df.withColumn("rank_in_match", F.rank().over(label_w))
    return (
        df.withColumn(
            "aggression_index",
            (F.col("kills") + F.col("assists") * 0.5) / F.col("game_duration_min"),
        )
        .withColumn(
            "survival_index",
            F.col("longest_time_alive") / (F.col("game_duration_min") * 60),
        )
        .withColumn(
            "team_contribution",
            F.col("kill_participation") * 0.4
            + F.col("total_damage_share") * 0.4
            + (F.lit(1) - F.col("death_share")) * 0.2,
        )
        .withColumn(
            "combat_efficiency",
            F.col("damage_per_min")
            / F.when(F.col("damage_taken_per_min") == 0, F.lit(1)).otherwise(
                F.col("damage_taken_per_min")
            ),
        )
    )


_HASH_BUCKETS = 1_000_000
_VAL = "_val"


def in_test_side(test_frac: float, seed: int) -> Column:
    """True for the rows whose match falls on the test side: a seeded
    hash of match_id alone, so it never depends on partitioning and a
    match's rows can never straddle the split."""
    bucket = F.pmod(F.xxhash64(F.lit(seed), F.col("match_id")), F.lit(_HASH_BUCKETS))
    return bucket < F.lit(round(test_frac * _HASH_BUCKETS))


def match_level_split(
    df: DataFrame, test_frac: float = 0.2, seed: int = SEED
) -> tuple[DataFrame, DataFrame]:
    """Leak-free match-level split (feature_factory.py:268-287): all rows
    of a match land on the same side. Two narrow filters — no shuffle,
    no broadcast of the match ids, no driver round trip."""
    in_test = in_test_side(test_frac, seed)
    return df.filter(~in_test), df.filter(in_test)


def fit_clip_bounds(train: DataFrame, cols: tuple[str, ...] = CLIP_COLS) -> dict[str, tuple[float, float]]:
    """1%/99% winsorization bounds fit on TRAIN only
    (feature_factory.py:230-238). One approxQuantile call over ALL clip
    columns = ONE distributed pass (per-column calls would each rescan
    the train set)."""
    quantiles = train.approxQuantile(list(cols), [0.01, 0.99], 0.001)
    return {c: (q1, q99) for c, (q1, q99) in zip(cols, quantiles)}


def apply_clip(df: DataFrame, bounds: dict[str, tuple[float, float]]) -> DataFrame:
    for c, (lo, hi) in bounds.items():
        df = df.withColumn(c, F.least(F.greatest(F.col(c), F.lit(lo)), F.lit(hi)))
    return df


def build_featurizer() -> Pipeline:
    """indexer → assembler → robust-scaler (U4/F9)."""
    indexer = StringIndexer(
        inputCol="champion", outputCol="champion_id", handleInvalid="keep"
    )
    assembler = VectorAssembler(inputCols=FEATURES, outputCol="raw_features")
    scaler = RobustScaler(
        inputCol="raw_features",
        outputCol="features",
        withCentering=True,
        withScaling=True,
    )
    return Pipeline(stages=[indexer, assembler, scaler])


def build_pipeline(model) -> Pipeline:
    """The featurizer followed by one regressor."""
    return Pipeline(stages=[*build_featurizer().getStages(), model])


def default_models() -> dict[str, object]:
    """Five regressors mirroring the reference's xgb/lgb/rf/et/gbm quintet
    (modeling.py:16-68) from Spark ML's stock estimators — five DISTINCT
    model families (VERDICT r4 item 6): boosted trees, factorization
    machines, a random forest, a single deep tree (extra-trees stand-in),
    and a ridge linear model. xgboost/lightgbm themselves are not in the
    image; family heterogeneity is what the inverse-MSE weighting needs."""
    from pyspark.ml.regression import DecisionTreeRegressor, FMRegressor

    return {
        "gbt": GBTRegressor(
            labelCol=LABEL, featuresCol="features", maxIter=30, maxDepth=5, seed=SEED
        ),
        "fm": FMRegressor(
            labelCol=LABEL,
            featuresCol="features",
            factorSize=4,
            regParam=0.01,
            stepSize=0.05,
            maxIter=50,
            seed=SEED + 7,
        ),
        "rf": RandomForestRegressor(
            labelCol=LABEL, featuresCol="features", numTrees=50, maxDepth=8, seed=SEED
        ),
        "dt": DecisionTreeRegressor(
            labelCol=LABEL, featuresCol="features", maxDepth=10, seed=SEED
        ),
        "lr": LinearRegression(
            labelCol=LABEL, featuresCol="features", regParam=0.01, elasticNetParam=0.0
        ),
    }


@dataclass(frozen=True)
class Featurizer:
    """The fitted indexer→assembler→robust-scaler as its statistics: the
    champion labels in index order, and each feature's median and
    quantile range in ``FEATURES`` order."""

    labels: list[str]
    median: list[float]
    quantile_range: list[float]

    @classmethod
    def fit(cls, train: DataFrame) -> "Featurizer":
        """Fits ``build_featurizer()`` on ``train`` and keeps its statistics."""
        indexer, _, scaler = build_featurizer().fit(train).stages
        return cls(
            labels=list(indexer.labels),
            median=scaler.median.toArray().tolist(),
            quantile_range=scaler.range.toArray().tolist(),
        )

    def transform(self, df: DataFrame) -> DataFrame:
        """Adds ``features``: RobustScalerModel's own formula,
        ``(x - median) * (0 if range == 0 else 1 / range)``, as column
        expressions. ``array_to_vector`` always builds a dense vector, as
        RobustScalerModel does; VectorAssembler would store a row with
        many zeros as a sparse vector, whose dot product with a linear
        model's coefficients sums in another order. The column carries
        RobustScalerModel's vector-size metadata, without which every
        regressor fit runs a job to count the features."""
        indexer = StringIndexerModel.from_labels(
            self.labels, "champion", "champion_id", handleInvalid="keep"
        )
        # ``int_col - median`` widens int/bigint to double with the same
        # Cast VectorAssembler applies
        scaled = [
            (F.col(c) - m) * (0.0 if r == 0 else 1.0 / r)
            for c, m, r in zip(FEATURES, self.median, self.quantile_range)
        ]
        return (
            indexer.transform(df)
            .withColumn(
                "features",
                array_to_vector(F.array(*scaled)).alias(
                    "features", metadata={"ml_attr": {"num_attrs": len(FEATURES)}}
                ),
            )
            .drop("champion_id")
        )


def _hadoop_file(path: str):
    """The JVM, ``path`` as a Hadoop Path and its FileSystem, so meta.json
    goes where Spark ML writes ``pipeline/`` for any URI (file://,
    hdfs://, s3a://). Reading and writing through it runs no Spark job."""
    sc = SparkSession.active().sparkContext
    p = sc._jvm.org.apache.hadoop.fs.Path(path)
    return sc._jvm, p, p.getFileSystem(sc._jsc.hadoopConfiguration())


def _write_text(path: str, text: str) -> None:
    _, p, fs = _hadoop_file(path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _read_text(path: str) -> str:
    jvm, p, fs = _hadoop_file(path)
    stream = fs.open(p)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


@dataclass
class RankingEnsemble:
    """Fitted ensemble (modeling.py:130-142): the featurizer statistics,
    one PipelineModel of the member regressors (each writing
    ``pred_<name>``), the inverse-MSE weights and the clip bounds."""

    pipeline: PipelineModel
    weights: dict[str, float]
    featurizer: Featurizer
    clip_bounds: dict[str, tuple[float, float]] = field(default_factory=dict)

    @property
    def models(self) -> dict[str, object]:
        """``{name: fitted regressor}``, named by their prediction column."""
        return {st.getPredictionCol().removeprefix("pred_"): st for st in self.pipeline.stages}

    def predict(self, df: DataFrame) -> DataFrame:
        """Weighted-average prediction (F11) + per-match ROW_NUMBER rank
        (W2, deterministic (puuid, row_uid) tie-break — modeling.py:202-212)."""
        features = self.featurizer.transform(apply_clip(df, self.clip_bounds))
        out = self.pipeline.transform(features).drop("features")
        score = reduce(
            add, (F.col(f"pred_{name}") * F.lit(w) for name, w in self.weights.items())
        )
        out = out.withColumn("predicted_score", score)
        w_rank = Window.partitionBy("match_id").orderBy(
            F.desc("predicted_score"), "puuid", "row_uid"
        )
        return out.withColumn("predicted_rank", F.row_number().over(w_rank))

    def save(self, path: str) -> None:
        """Writes ``pipeline/`` and ``meta.json`` under ``path`` (a local
        path or any Hadoop FileSystem URI). JSON round-trips doubles
        exactly."""
        self.pipeline.write().overwrite().save(f"{path}/pipeline")
        meta = {
            "weights": self.weights,
            "clip_bounds": self.clip_bounds,
            "featurizer": asdict(self.featurizer),
        }
        _write_text(f"{path}/meta.json", json.dumps(meta))

    @classmethod
    def load(cls, path: str) -> "RankingEnsemble":
        meta = json.loads(_read_text(f"{path}/meta.json"))
        return cls(
            pipeline=PipelineModel.load(f"{path}/pipeline"),
            weights=meta["weights"],
            featurizer=Featurizer(**meta["featurizer"]),
            clip_bounds={k: tuple(v) for k, v in meta["clip_bounds"].items()},
        )


def train_ensemble(
    train: DataFrame,
    val_frac: float = 0.2,
    models: dict | None = None,
    parallelism: int = 1,
) -> RankingEnsemble:
    """Fit each model, weight by inverse validation MSE (modeling.py:94-142).

    As in the reference, the clip bounds and the featurizer are fitted
    ONCE on the outer train; the scaled frame (features, label, and a
    match-level validation flag) is persisted and every member's
    validation fit, MSE and final fit read it.

    ``parallelism`` driver threads submit the member fits concurrently,
    so their stages interleave across executor slots (the mechanism
    CrossValidator's own ``parallelism`` uses). Results do not depend on
    it: the fits share no state, every estimator is seeded, and the
    weight normalization is order-independent (asserted in
    tests/test_ml_extras.py)."""
    models = models or default_models()
    clip_bounds = fit_clip_bounds(train)
    train = apply_clip(train, clip_bounds)
    featurizer = Featurizer.fit(train)
    frame = (
        featurizer.transform(train.withColumn(_VAL, in_test_side(val_frac, SEED + 1)))
        .select("features", LABEL, _VAL)
        .persist()
    )
    fit_part, val_part = frame.filter(~F.col(_VAL)), frame.filter(F.col(_VAL))

    def fit_one(item: tuple[str, object]) -> tuple[str, object, float]:
        name, reg = item
        reg = reg.copy({reg.predictionCol: f"pred_{name}"})
        # evaluator per call: Params objects are not thread-safe to share
        mse = RegressionEvaluator(
            labelCol=LABEL, predictionCol=f"pred_{name}", metricName="mse"
        ).evaluate(reg.fit(fit_part).transform(val_part))
        return name, reg.fit(frame), mse

    try:
        with ThreadPoolExecutor(max_workers=max(1, parallelism)) as pool:
            fitted = list(pool.map(fit_one, models.items()))
    finally:
        frame.unpersist()
    inv_mse = {name: 1.0 / max(mse, 1e-10) for name, _, mse in fitted}
    total = sum(inv_mse.values())
    return RankingEnsemble(
        pipeline=PipelineModel(stages=[m for _, m, _ in fitted]),
        weights={k: v / total for k, v in inv_mse.items()},
        featurizer=featurizer,
        clip_bounds=clip_bounds,
    )


def cross_validate_linear(train: DataFrame, n_folds: int = 3):
    """U4: CrossValidator (the reference's 5-fold cross_val_score,
    modeling.py:94-101) over the regularization strength of the linear
    stage. Folds are Spark-managed; each fit is distributed."""
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    lr = LinearRegression(labelCol=LABEL, featuresCol="features")
    pipe = build_pipeline(lr)
    grid = (
        ParamGridBuilder()
        .addGrid(lr.regParam, [0.001, 0.01, 0.1])
        .build()
    )
    cv = CrossValidator(
        estimator=pipe,
        estimatorParamMaps=grid,
        evaluator=RegressionEvaluator(
            labelCol=LABEL, predictionCol="prediction", metricName="mse"
        ),
        numFolds=n_folds,
        seed=SEED,
        parallelism=4,
    )
    return cv.fit(train)


def linear_pandas_udf_scorer(lr_model):
    """U3: vectorized model inference as a Pandas UDF — the pattern for
    models Spark ML can't host (xgb/lgb in the reference,
    modeling.py:145-169). The model parameters are captured in the closure
    (Spark broadcasts them with the task); scoring is numpy over Arrow
    batches, never row-at-a-time Python.

    Here the 'external model' is the linear stage's (coefficients,
    intercept) pulled out of a fitted LinearRegressionModel — which also
    gives an exact parity target: the UDF must reproduce the model's
    transform bit-for-bit modulo float summation order (asserted in
    tests)."""
    from pyspark.sql.functions import pandas_udf

    coef = np.array(lr_model.coefficients.toArray())
    intercept = float(lr_model.intercept)

    @pandas_udf("double")
    def score(features: pd.Series) -> pd.Series:
        mat = np.stack(features.to_numpy())
        return pd.Series(mat @ coef + intercept)

    return score


def feature_importances(ens: RankingEnsemble) -> "pd.DataFrame":
    """Cross-model feature-importance matrix (modeling.py:215-243): one row
    per feature, per-model importance + mean/std. Tree models expose
    featureImportances; the linear stage contributes |coefficient|. The
    matrix is (n_features x n_models) scalars — driver-side by nature."""
    rows: dict[str, dict[str, float]] = {}
    for mname, reg in ens.models.items():
        if hasattr(reg, "featureImportances"):
            vals = reg.featureImportances.toArray()
        elif hasattr(reg, "coefficients"):
            vals = np.abs(reg.coefficients.toArray())
        else:
            # FMRegressionModel: |linear_j| plus the squared L2 norm of the
            # feature's factor row (its total pairwise-interaction weight)
            factors = reg.factors.toArray()
            vals = np.abs(reg.linear.toArray()) + (factors**2).sum(axis=1)
        for f, v in zip(FEATURES, vals):
            rows.setdefault(f, {})[mname] = float(v)
    out = pd.DataFrame(
        [{"feature": f, **per_model} for f, per_model in rows.items()]
    )
    model_cols = list(ens.models)
    out["mean_importance"] = out[model_cols].mean(axis=1)
    out["std_importance"] = out[model_cols].std(axis=1)
    return out.sort_values("mean_importance", ascending=False).reset_index(drop=True)


def evaluate(pred: DataFrame) -> dict[str, float]:
    """MSE/RMSE/MAE + rank accuracy (test_modeling.py:81-123) — all as ONE
    distributed aggregation; only scalars reach the driver."""
    rank_diff = F.abs(F.col("predicted_rank") - F.col("rank_in_match"))
    err = F.col("predicted_score") - F.col(LABEL)
    row = pred.agg(
        F.avg(err * err).alias("mse"),
        F.sqrt(F.avg(err * err)).alias("rmse"),
        F.avg(F.abs(err)).alias("mae"),
        F.avg((rank_diff == 0).cast("double")).alias("rank_acc_exact"),
        F.avg((rank_diff <= 1).cast("double")).alias("rank_acc_1"),
        F.avg((rank_diff <= 2).cast("double")).alias("rank_acc_2"),
        F.avg(rank_diff).alias("mean_abs_rank_diff"),
    ).first()
    return {k: float(row[k]) for k in row.asDict()}
