"""The two closed-loop workloads.

Each workload generates its inputs from the seed, loads them in a fresh
session (``load``), and then issues one operation at a time (``op``).
``check`` verifies an operation's output against an independent
reference; ``traced_op`` runs the same operation with every layer call
wrapped in a :class:`instrument.Tracer` span, and ``layers`` turns one
traced operation's spans into per-layer numbers.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np

import gen
import reference

#: the 17 frozen headline queries of the repository's query benchmark
HEADLINE = [
    "q_b11_pricing_summary",
    "q_b05_join_revenue_by_priority",
    "q_b06_broadcast_join_brand_volume",
    "q_b20_topk_per_group",
    "q_b16_ranking",
    "q_b31_cte_nation_revenue",
    "q_b30_correlated_exists",
    "q_c1_tumbling_window",
    "q_c3_session_window",
    "q_d3_topk_cosine",
    "q_a5_stump_z",
    "q_b35_pandas_udf_token_count",
    "q_comp_forecast_revenue",
    "q_comp_top_customers",
    "q_ext_hypertable_rollup",
    "q_comp_docpipe",
    "q_d3_ivf_ann",
]

#: query-module groups for the per-pass module sums
MODULES = ["operators", "functions", "streaming", "ml.queries"]


def module_of(fn) -> str:
    parts = fn.__module__.split(".")[1:]  # drop the package name
    return "ml.queries" if parts[:2] == ["ml", "queries"] else parts[0]


@dataclass
class Result:
    """One operation (``units`` attempts) and the errors its check found."""

    units: int = 1
    errors: list[str] = field(default_factory=list)
    output: object = None
    traced: bool = False
    label: str = ""  # which query, for per-query statistics


def _by_name(spans, name: str):
    return [s for s in spans if s.name == name]


class Train:
    """``AdaBoostMHClassifier.fit`` on a generated training set, then
    ``AdaBoostMHModel.transform`` of the same rows with the fitted model:
    a train-and-evaluate loop whose output is the model and its training
    predictions."""

    block = 1  # operations per traced block
    warm_ops = 1  # plain warm-up operations after warm_up
    min_ops = 2  # timed operations per run, however long they take

    def __init__(self, work, seed, rows, features, classes, rounds):
        self.seed = seed
        self.rows, self.features, self.classes = rows, features, classes
        self.rounds = rounds
        self.path = os.path.join(work, "train.parquet")
        self.last_stumps = self.loss = None

    def generate(self) -> dict:
        d = gen.training_set(self.path, self.seed, self.rows, self.features, self.classes)
        self.x, self.y = d["x"], d["y"]
        self.ref = reference.adaboost_mh(self.x, self.y, self.rounds)
        self.ref_scores = reference.score(
            self.x,
            np.array([s["feature"] for s in self.ref]),
            np.array([s["threshold"] for s in self.ref]),
            np.array([s["votes"] for s in self.ref]),
        )
        self.ref_loss = reference.hamming_loss(self.y, self.ref_scores)
        self.describe = d["describe"]
        return {"train": self.describe, "rounds": self.rounds}

    def load(self, spark) -> dict:
        self.df = spark.read.parquet(self.path).persist()
        self.df.count()
        return {}

    def _estimator(self):
        from spark_multiboost_spark.ml.estimator import AdaBoostMHClassifier

        return AdaBoostMHClassifier(numRounds=self.rounds, numClasses=self.classes)

    def _score(self, model) -> list:
        return (
            model.transform(self.df)
            .select("vec_id", "scores", "predicted_labels")
            .collect()  # bounded: one row per training row
        )

    def op(self, spark) -> Result:
        model = self._estimator().fit(self.df)
        return Result(output=(model, self._score(model)))

    def check(self, res: Result) -> None:
        model, scored = res.output
        rows = model.stumps_df.orderBy("t").collect()  # bounded: T rows
        res.errors += reference.stump_mismatches(rows, self.ref)
        stumps = [(r.feature, r.threshold, list(r.votes)) for r in rows]
        if not res.traced:
            self.last_stumps = stumps
        elif stumps != self.last_stumps:
            res.errors.append("traced training produced different stumps than fit")
        res.errors += reference.score_mismatches(scored, np.arange(self.rows), self.ref_scores)
        if not res.errors:
            # the engine's training predictions, scored against the labels
            pred = -np.ones_like(self.y)
            for r in scored:
                pred[r.vec_id, list(r.predicted_labels)] = 1
            self.loss = round(float(np.mean(pred != self.y)), 6)
            if self.loss != self.ref_loss:
                res.errors.append(f"train_hamming_loss {self.loss} != reference {self.ref_loss}")

    def warm_up(self, spark) -> tuple[Result, dict]:
        res = self.op(spark)
        self.check(res)
        return res, {"train_hamming_loss": self.loss}

    def traced_op(self, spark, tracer) -> Result:
        """The real ``fit`` and ``transform``, with ``boosting.train`` and
        ``boosting.score_model`` swapped for copies that make the same
        calls inside spans.  The score_model copy materializes its output,
        so the transform span's self time is the estimator's pivot,
        join-back and collect alone."""
        from spark_multiboost_spark.ml import boosting

        real_train, real_score = boosting.train, boosting.score_model

        def score_model(emb, stumps_df):
            with tracer.span("boosting.score_model"):
                return real_score(emb, stumps_df).localCheckpoint(eager=True)

        boosting.train = _traced_train(tracer, boosting)
        boosting.score_model = score_model
        try:
            with tracer.span("estimator.fit"):
                model = self._estimator().fit(self.df)
            with tracer.span("estimator.transform"):
                scored = self._score(model)
        finally:
            boosting.train, boosting.score_model = real_train, real_score
        return Result(output=(model, scored), traced=True)

    def layers(self, spans) -> dict:
        stump, upd = _by_name(spans, "boosting.fit_stump"), _by_name(spans, "boosting.update_weights")
        transform = _by_name(spans, "estimator.transform")[0]

        def per_round(ss, attr, scale=1.0):
            return sum(getattr(s, attr) for s in ss) * scale / len(ss)

        return {
            "boosting.prep_s": sum(s.wall for s in _by_name(spans, "boosting.prep")),
            "boosting.fit_stump_s": per_round(stump, "self_s"),
            "boosting.fit_stump_jobs": per_round(stump, "jobs"),
            "boosting.fit_stump_tasks": per_round(stump, "tasks"),
            "boosting.fit_stump_shuffle_mb": per_round(stump, "shuffle_bytes", 1e-6),
            "boosting.fit_stump_spill_mb": per_round(stump, "spill_bytes", 1e-6),
            "boosting.update_weights_s": per_round(upd, "self_s"),
            "boosting.update_weights_jobs": per_round(upd, "jobs"),
            "boosting.update_weights_shuffle_mb": per_round(upd, "shuffle_bytes", 1e-6),
            "estimator.fit_self_s": _by_name(spans, "estimator.fit")[0].self_s,
            "boosting.score_model_s": _by_name(spans, "boosting.score_model")[0].wall,
            "estimator.transform_self_s": transform.self_s,
            "estimator.transform_jobs": transform.jobs,
        }

    def trace_extras(self, spark) -> tuple[dict, list[str]]:
        """Exact size of the candidate-cut frame the stump search scans."""
        from pyspark.sql import functions as F

        from spark_multiboost_spark.ml import boosting

        emb = self.df.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        mlp = boosting.mlp_long(self.df.select("vec_id", "label"), self.classes)
        weighted = boosting.init_weights(mlp, self.rows, self.classes)
        n = boosting.stump_class_weights(weighted, boosting.explode_features(emb)).count()
        errors = []
        if n != self.describe["candidate_cuts"]:
            errors.append(f"candidate rows {n} != generated {self.describe['candidate_cuts']}")
        return {"boosting.candidate_rows": n}, errors


def _traced_train(tracer, boosting):
    """``boosting.train`` re-expressed as the same public calls in the same
    order, each materializing step inside a span."""

    def train(spark, emb, num_rounds=10, num_classes=10, sample_fraction=None,
              feature_fraction=None, seed=42, label_set_col=None, sample_pred=None):
        if (label_set_col, sample_fraction, feature_fraction, sample_pred) != (None,) * 4:
            raise ValueError("the traced copy covers only the benchmark's estimator settings")
        with tracer.span("boosting.prep"):
            emb = emb.select("vec_id", "embedding", "label").persist()
            mlp = boosting.mlp_long(emb, num_classes)
            m = emb.count()
            feats = boosting.explode_features(emb).persist()
            weighted = boosting.init_weights(mlp, m, num_classes).localCheckpoint(eager=True)
        stumps = []
        for t in range(num_rounds):
            with tracer.span("boosting.fit_stump"):
                stumps.append(boosting.fit_stump(weighted, feats, m, num_classes, t))
            with tracer.span("boosting.update_weights"):
                weighted = boosting.update_weights(weighted, feats, stumps[-1], spark)
                weighted = weighted.localCheckpoint(eager=True)
        feats.unpersist()
        emb.unpersist()
        return stumps

    return train


class QueryMix:
    """The 17 headline queries, one per operation, round robin, on the
    repository's sf0.01 test fixture (a copy ships in ``data/``)."""

    FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

    def __init__(self):
        self.dir = self.FIXTURE
        self.i = 0
        self.block = len(HEADLINE)  # a traced block is one full pass
        self.warm_ops = 0  # warm_up already ran every query once
        self.min_ops = len(HEADLINE)  # every query is timed at least once

    def generate(self) -> dict:
        """The fixture is fixed data: every seed runs on the same tables."""
        import pyarrow.parquet as pq

        from spark_multiboost_spark.registry import all_queries
        from spark_multiboost_spark.session import TABLES

        reg = all_queries()
        self.queries = {n: reg[n] for n in HEADLINE}
        tables = {}
        for t in TABLES:
            path = os.path.join(self.dir, f"{t}.parquet")
            tables[t] = {"rows": pq.ParquetFile(path).metadata.num_rows,
                         "bytes": os.path.getsize(path)}
        return {"sf": 0.01, "tables": tables}

    def load(self, spark) -> dict:
        from spark_multiboost_spark.session import warm_cache

        t0 = time.perf_counter()
        warm_cache(spark, self.dir)
        return {"session.warm_cache_s": time.perf_counter() - t0}

    def warm_up(self, spark) -> tuple[Result, dict]:
        """Every query once, compared with its DuckDB oracle."""
        import duckdb

        from spark_multiboost_spark import plans
        from spark_multiboost_spark.session import TABLES

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
        res = Result(units=len(self.queries))
        for name, q in self.queries.items():
            try:
                got = q.fn(spark, self.dir).toPandas()  # bounded: fixture-scale result
                why = reference.frames_match(got, con.execute(q.oracle).df())
            except Exception as e:  # a failing query is a failed check
                why = f"raised {type(e).__name__}: {str(e)[:200]}"
            if why:
                res.errors.append(f"{name}: {why}")
        con.close()
        plans.release_outstanding()
        return res, {"oracle_checked": len(self.queries)}

    def _next(self) -> str:
        name = HEADLINE[self.i % len(HEADLINE)]
        self.i += 1
        return name

    def _run(self, spark, name) -> None:
        # noop sink: every output column is computed, nothing is collected
        self.queries[name].fn(spark, self.dir).write.format("noop").mode("overwrite").save()

    def op(self, spark) -> Result:
        from spark_multiboost_spark import plans

        name = self._next()
        self._run(spark, name)
        plans.release_outstanding()
        return Result(label=name)

    def check(self, res: Result) -> None:
        pass  # outputs are oracle-checked once, in warm_up

    def traced_op(self, spark, tracer) -> Result:
        from spark_multiboost_spark import plans

        name = self._next()
        with tracer.span(f"query.{name}"):
            self._run(spark, name)
        with tracer.span("plans.release_outstanding"):
            plans.release_outstanding()
        return Result(label=name, traced=True)

    def layers(self, spans) -> dict:
        """Per-query numbers; the harness folds them into per-pass sums."""
        (q,) = [s for s in spans if s.name.startswith("query.")]
        name = q.name[len("query."):]
        m = module_of(self.queries[name].fn)
        return {
            f"query.{name}.s": q.wall,
            f"{m}.s": q.wall,
            f"{m}.jobs": q.jobs,
            f"{m}.shuffle_mb": q.shuffle_bytes / 1e6,
            "plans.release_outstanding_s": _by_name(spans, "plans.release_outstanding")[0].wall,
        }


def make(name: str, work: str, seed: int):
    if name == "train_continuous":
        return Train(work, seed, rows=1000, features=6, classes=10, rounds=2)
    if name == "query_mix":
        return QueryMix()
    raise SystemExit(f"unknown workload {name!r}")
