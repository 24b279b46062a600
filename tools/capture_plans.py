"""Capture .explain("formatted") for registry queries into plans/r15/.

Usage: python tools/capture_plans.py <suffix> [query ...]

Writes plans/<round>/<query>_<suffix>.txt for each named query
(default: the bench HEADLINE list). Uses a small local session — plan
shape does not depend on core count. Keep captures strictly sequential
with timed runs.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from imitation_learning_data_pipeline_spark.plans import QUERIES
    from imitation_learning_data_pipeline_spark.session import get_spark

    if not names:
        import bench

        names = bench.HEADLINE
    out_dir = os.path.join(
        REPO, "plans", os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r16")
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("capture_plans")
    for name in names:
        fn = QUERIES[name]
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        n_ex = plan.count("Exchange")
        print(f"{name}: {len(plan)} chars, {n_ex} Exchange -> {path}")
        spark.catalog.clearCache()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
