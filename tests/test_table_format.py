"""The matview Delta bridge against a real Delta Lake engine.

``pipeline/matview.py`` reads a Delta base's live file set from its
transaction log (``pipeline/delta_log.py``), which needs no Delta
package. These tests write the base with the real engine, so they run
wherever delta-spark is pip-installed and skip loudly elsewhere.
"""

from __future__ import annotations

import importlib.util

import pytest
from pyspark.sql import functions as F

# the two session-build configs delta-spark requires
DELTA_SESSION_CONFIGS = {
    "spark.sql.extensions": "io.delta.sql.DeltaSparkSessionExtension",
    "spark.sql.catalog.spark_catalog": (
        "org.apache.spark.sql.delta.catalog.DeltaCatalog"
    ),
}


@pytest.mark.skipif(
    importlib.util.find_spec("delta") is None,
    reason="delta-spark not installed — the matview-on-Delta bridge "
    "test writes its base with the real engine",
)
class TestMatviewDeltaBridge:
    """r10 verdict item 10: a Delta base's transaction log (not a
    directory walk) feeds the matview refresh file list."""

    @pytest.fixture(scope="class")
    def dspark(self):
        from pyspark.sql import SparkSession

        b = (
            SparkSession.builder.master("local[4]")
            .appName("delta-matview-test")
            .config("spark.sql.shuffle.partitions", "4")
        )
        for k, v in DELTA_SESSION_CONFIGS.items():
            b = b.config(k, v)
        yield b.getOrCreate()

    def _base_rows(self, spark, lo, hi):
        return spark.range(lo, hi).selectExpr("id % 4 AS grp", "CAST(id AS DOUBLE) AS v")

    def test_refresh_folds_exactly_log_additions(self, dspark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline.matview import (
            create_matview,
            read_matview,
            refresh_matview,
        )

        base = str(tmp_path / "base")
        mv = str(tmp_path / "mv")
        self._base_rows(dspark, 0, 100).write.format("delta").save(base)
        create_matview(dspark, base, mv, ["grp"], ["v"])
        # Delta append = new files in the log; refresh folds ONLY them.
        self._base_rows(dspark, 100, 140).write.format("delta").mode(
            "append"
        ).save(base)
        r = refresh_matview(dspark, mv)
        assert r["files_new"] >= 1 and not r["rebuilt"]
        got = {
            row["grp"]: (row["v_n"], row["v_sum"])
            for row in read_matview(dspark, mv).collect()
        }
        want = {
            row["grp"]: (row["n"], row["s"])
            for row in self._base_rows(dspark, 0, 140)
            .groupBy("grp")
            .agg(F.count("v").alias("n"), F.sum("v").alias("s"))
            .collect()
        }
        assert got == want

    def test_delete_rewrite_detected_as_mutation(self, dspark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline.matview import (
            BaseMutatedError,
            create_matview,
            read_matview,
            refresh_matview,
        )

        base = str(tmp_path / "base2")
        mv = str(tmp_path / "mv2")
        self._base_rows(dspark, 0, 50).write.format("delta").save(base)
        create_matview(dspark, base, mv, ["grp"], ["v"])
        # DELETE on a DV-less Delta table rewrites files -> the log's
        # live set changes -> mutation, exactly like plain parquet.
        dspark.sql(f"DELETE FROM delta.`{base}` WHERE v < 10")
        with pytest.raises(BaseMutatedError):
            refresh_matview(dspark, mv)
        r = refresh_matview(dspark, mv, on_base_mutation="rebuild")
        assert r["rebuilt"]
        got = {
            row["grp"]: row["v_n"] for row in read_matview(dspark, mv).collect()
        }
        assert sum(got.values()) == 40
