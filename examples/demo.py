"""End-to-end demo: the engine's three faces in one script.

  python examples/demo.py [sf_dir]        (default /root/testdata/sf0.001)

1. Relational: TPC-H Q3-shaped composite on the star schema.
2. LLM pipeline: doc quality -> dedup -> per-language stats, then top-k
   cosine neighbors over embeddings.
3. The reference's capability: fit AdaBoost.MH, score, report Hamming loss.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_multiboost_spark.session import get_spark, load_tables  # noqa: E402
from spark_multiboost_spark.registry import all_queries  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("smb-demo")
    load_tables(spark, sf_dir)
    qs = all_queries()

    print("=== 1. Relational: shipping priority (TPC-H Q3 shape) ===")
    qs["q_comp_shipping_priority"].fn(spark, sf_dir).show(5, truncate=False)

    print("=== 2a. LLM pipeline: corpus stats after quality gate + dedup ===")
    qs["q_comp_docpipe"].fn(spark, sf_dir).show(truncate=False)

    print("=== 2b. Top-k cosine neighbors (blocked-matmul partial top-k) ===")
    qs["q_d3_topk_cosine"].fn(spark, sf_dir).show(5, truncate=False)

    print("=== 3. AdaBoost.MH: fit, score, evaluate ===")
    from spark_multiboost_spark.ml import boosting
    from spark_multiboost_spark.ml.estimator import AdaBoostMHClassifier

    emb = load_tables(spark, sf_dir)["embeddings"]
    model = AdaBoostMHClassifier(numRounds=3, numClasses=10).fit(emb)
    # each row's K margins, one row per (id, class) for the loss
    scored = boosting._explode_margins(boosting.score_model(emb, model.stumps))
    mlp = boosting.mlp_long(emb, 10)
    boosting.hamming_loss(scored, mlp).show()
    print("stump table (model-as-DataFrame):")
    model.stumps_df.show(truncate=False)

    spark.stop()


if __name__ == "__main__":
    main()
