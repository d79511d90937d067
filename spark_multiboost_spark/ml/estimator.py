"""pyspark.ml Estimator/Model wrapper for AdaBoost.MH (SURVEY.md §2 D7,
BASELINE.json north star: "MLlib pipeline with custom estimator").

The reference exposes AdaBoostMHAlgorithm(...).run(rdd) returning an
AdaBoostMHModel [R] .../stronglearners/AdaBoostMH.scala (reconstructed,
mount empty); here the same capability is a standard pyspark.ml pair so it
composes with Pipelines. The fitted model is a TABLE of stumps (persistable
parquet — A13), not an opaque object.
"""

from __future__ import annotations

from pyspark import keyword_only
from pyspark.ml import Estimator, Model
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from . import boosting


class _ABParams(Params):
    numRounds = Param(
        Params._dummy(), "numRounds", "boosting rounds T", TypeConverters.toInt
    )
    numClasses = Param(
        Params._dummy(), "numClasses", "number of classes K", TypeConverters.toInt
    )
    featuresCol = Param(
        Params._dummy(), "featuresCol", "ARRAY<DOUBLE> feature column",
        TypeConverters.toString,
    )
    labelCol = Param(
        Params._dummy(), "labelCol", "integer label column", TypeConverters.toString
    )
    labelSetCol = Param(
        Params._dummy(),
        "labelSetCol",
        "ARRAY<INT> multi-label column (BoosTexter label sets); when set, "
        "labelCol is ignored and y[i,l] = +1 iff l is in the row's set",
        TypeConverters.toString,
    )
    idCol = Param(Params._dummy(), "idCol", "row id column", TypeConverters.toString)
    seed = Param(Params._dummy(), "seed", "sampling seed", TypeConverters.toInt)
    sampleFraction = Param(
        Params._dummy(), "sampleFraction",
        "A12 per-round instance subsample fraction, picked by a hash of "
        "(id, seed + t) (None = off)",
        TypeConverters.toFloat,
    )

    def __init__(self):
        super().__init__()
        self._setDefault(
            numRounds=10,
            numClasses=10,
            featuresCol="embedding",
            labelCol="label",
            idCol="vec_id",
            seed=42,
        )


class AdaBoostMHClassifier(Estimator, _ABParams):
    """Multi-class/multi-label AdaBoost.MH with decision stumps."""

    @keyword_only
    def __init__(self, **kwargs):
        super().__init__()
        self._set(**kwargs)

    def _fit(self, dataset: DataFrame) -> "AdaBoostMHModel":
        spark = dataset.sparkSession
        multi = self.isSet(self.labelSetCol)
        label_expr = (
            F.col(self.getOrDefault(self.labelSetCol))
            .cast("array<int>")
            .alias("labels")
            if multi
            else F.col(self.getOrDefault(self.labelCol)).cast("int").alias("label")
        )
        emb = dataset.select(
            F.col(self.getOrDefault(self.idCol)).alias("vec_id"),
            F.col(self.getOrDefault(self.featuresCol))
            .cast("array<double>")
            .alias("embedding"),
            label_expr,
        )
        frac = (
            self.getOrDefault(self.sampleFraction)
            if self.isSet(self.sampleFraction)
            else None
        )
        stumps = boosting.train(
            spark,
            emb,
            num_rounds=self.getOrDefault(self.numRounds),
            num_classes=self.getOrDefault(self.numClasses),
            sample_fraction=frac,
            seed=self.getOrDefault(self.seed),
            label_set_col="labels" if multi else None,
        )
        model = AdaBoostMHModel(
            stumps_df=boosting.stumps_to_df(spark, stumps),
            num_classes=self.getOrDefault(self.numClasses),
            summary=[
                Row(t=s.t, feature=s.feature, threshold=s.threshold, z=s.z, norm=s.norm)
                for s in stumps
            ],
        )
        model._resetUid(self.uid)
        return self._copyValues(model)


class AdaBoostMHModel(Model, _ABParams):
    """Fitted strong hypothesis; `transform` appends per-class scores and the
    predicted label set (classes with positive margin).

    ``summary`` is the training record, one ``Row(t, feature, threshold, z,
    norm)`` per round, kept on the driver (no Spark job): the product of
    the ``norm`` column bounds the training Hamming loss (Schapire & Singer
    1999).  A model loaded from a table has none."""

    def __init__(
        self,
        stumps_df: DataFrame | None = None,
        num_classes: int = 10,
        summary: list[Row] | None = None,
    ):
        super().__init__()
        self.stumps_df = stumps_df
        self._num_classes = num_classes
        self.summary = summary

    def _transform(self, dataset: DataFrame) -> DataFrame:
        emb = dataset.select(
            F.col(self.getOrDefault(self.idCol)).alias("vec_id"),
            F.col(self.getOrDefault(self.featuresCol))
            .cast("array<double>")
            .alias("embedding"),
        )
        scored = boosting.score_model(emb, self.stumps_df)
        wide = (
            scored.groupBy("id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("class", "score"))
                ).alias("cs")
            )
            .select(
                F.col("id").alias(self.getOrDefault(self.idCol)),
                F.transform("cs", lambda s: s["score"]).alias("scores"),
                F.filter(
                    F.transform(
                        "cs", lambda s: F.when(s["score"] > 0, s["class"])
                    ),
                    lambda c: c.isNotNull(),
                ).alias("predicted_labels"),
            )
        )
        return dataset.join(
            wide,
            dataset[self.getOrDefault(self.idCol)]
            == wide[self.getOrDefault(self.idCol)],
        ).drop(wide[self.getOrDefault(self.idCol)])

    # A13: model persistence — model-as-table round-trip
    def save_table(self, path: str) -> None:
        self.stumps_df.write.mode("overwrite").parquet(path)

    @classmethod
    def load_table(cls, spark: SparkSession, path: str, num_classes: int = 10):
        return cls(stumps_df=spark.read.parquet(path), num_classes=num_classes)
