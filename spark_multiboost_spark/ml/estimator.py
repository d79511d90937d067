"""pyspark.ml Estimator/Model wrapper for AdaBoost.MH (SURVEY.md §2 D7,
BASELINE.json north star: "MLlib pipeline with custom estimator").

The reference exposes AdaBoostMHAlgorithm(...).run(rdd) returning an
AdaBoostMHModel [R] .../stronglearners/AdaBoostMH.scala (reconstructed,
mount empty); here the same capability is a standard pyspark.ml pair so it
composes with Pipelines. Like the reference's ``MultiLabeledPoint``, a
row's label is a label set: ``labelCol`` names an INT label, the set of
one, or an ARRAY<INT> label set, told apart by the column's type in
``boosting.train``. Like the reference's model, the fitted model is
its list of stumps, the one ``boosting.train`` returns; its stump table
(``stumps_df``) and training record (``summary``) are views of that list.
``transform`` is one row-wise projection of its input
(``boosting.score_model``): no Spark job until an action, no shuffle, no
join and no read of ``idCol``, so every input row is scored on its own.
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
        Params._dummy(),
        "labelCol",
        "label column: an INT label, or an ARRAY<INT> label set (BoosTexter "
        "label sets), told apart by its type; y[i,l] = +1 iff l is in the "
        "row's set",
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
        emb = dataset.select(
            F.col(self.getOrDefault(self.idCol)).alias("vec_id"),
            F.col(self.getOrDefault(self.featuresCol))
            .cast("array<double>")
            .alias("embedding"),
            F.col(self.getOrDefault(self.labelCol)).alias("label"),
        )
        sample_pred = None
        if self.isSet(self.sampleFraction):
            frac, seed = self.getOrDefault(self.sampleFraction), self.getOrDefault(self.seed)
            sample_pred = boosting._hash_sample(frac, seed)
        stumps = boosting.train(
            spark,
            emb,
            num_rounds=self.getOrDefault(self.numRounds),
            num_classes=self.getOrDefault(self.numClasses),
            sample_pred=sample_pred,
        )
        model = AdaBoostMHModel(stumps)
        model._resetUid(self.uid)
        return self._copyValues(model)


class AdaBoostMHModel(Model, _ABParams):
    """Fitted strong hypothesis: ``stumps``, the :class:`boosting.Stump` list
    of the training rounds in t order.  `transform` keeps every input
    column, in order, and appends ``scores``, the K margins H(x)[l] in class
    order, and ``predicted_labels``, the classes with positive margin.  K is
    the length of the stumps' votes.

    ``summary`` is the training record, one ``Row(t, feature, threshold, z,
    norm)`` per round, read from ``stumps`` on the driver (no Spark job):
    the product of the ``norm`` column bounds the training Hamming loss
    (Schapire & Singer 1999).  ``stumps_df`` is the same list as a stump
    table (``boosting.stumps_to_df``), for writing or joining."""

    def __init__(self, stumps: list[boosting.Stump]):
        super().__init__()
        self.stumps = stumps

    @property
    def summary(self) -> list[Row]:
        return [
            Row(t=s.t, feature=s.feature, threshold=s.threshold, z=s.z, norm=s.norm)
            for s in self.stumps
        ]

    @property
    def stumps_df(self) -> DataFrame:
        return boosting.stumps_to_df(SparkSession.active(), self.stumps)

    def _transform(self, dataset: DataFrame) -> DataFrame:
        # the input row rides in one struct, so its columns pass through as
        # they are, even one named ``embedding`` that is not featuresCol
        emb = dataset.select(
            F.struct("*").alias("row"),
            F.col(self.getOrDefault(self.featuresCol))
            .cast("array<double>")
            .alias("embedding"),
        )
        return boosting.score_model(emb, self.stumps).select(
            "row.*",
            "scores",
            F.filter(
                F.sequence(F.lit(0), F.size("scores") - 1),
                lambda l: F.col("scores")[l] > 0,
            ).alias("predicted_labels"),
        )
