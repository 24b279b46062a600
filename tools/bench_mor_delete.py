"""Paired A/B: merge-on-read DELETE (deletion vectors) vs copy-on-write.

Builds one table, then measures — in the SAME session, back to back —
the two delete paths' wall time and write amplification (bytes that
hit disk), plus the deferred purge bill and the MOR read overhead.
The claim under test (SCALING.md "merge-on-read deletion vectors"):
DV DELETE cost ∝ rows matched, COW DELETE cost ∝ touched file bytes.

Usage: python tools/bench_mor_delete.py [n_rows] [n_files]
Prints one JSON line. Run alone (no concurrent Spark JVMs).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from imitation_learning_data_pipeline_spark.session import get_spark


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _files(path: str) -> dict[str, float]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                out[p] = os.path.getmtime(p)
            except OSError:
                pass
    return out


def _bytes_written(before: dict[str, float], path: str) -> int:
    """Bytes in files that are new or rewritten since ``before``."""
    total = 0
    for p, mt in _files(path).items():
        if p not in before or mt > before[p]:
            try:
                total += os.path.getsize(p)
            except OSError:
                pass
    return total


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    n_files = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    spark = get_spark("bench-mor-delete")
    from imitation_learning_data_pipeline_spark.pipeline.bloom import write_blooms
    from imitation_learning_data_pipeline_spark.pipeline.deletes import (
        delete_from_mor,
        delete_keys_mor,
        purge_deletes,
        read_with_deletes,
    )
    from imitation_learning_data_pipeline_spark.pipeline.manifest import write_manifest
    from imitation_learning_data_pipeline_spark.pipeline.merge import delete_from

    base = tempfile.mkdtemp(prefix="mor_ab_")
    res: dict = {"n_rows": n_rows, "n_files": n_files}
    try:
        # One table per arm so neither path sees the other's layout.
        arms = {}
        for arm in ("cow", "mor", "eq"):
            path = os.path.join(base, arm)
            df = spark.range(n_rows).select(
                F.concat(F.lit("doc-"), F.col("id")).alias("doc_id"),
                (F.col("id") % 1000).alias("grp"),
                F.sha2(F.col("id").cast("string"), 256).alias("payload"),
            )
            df.repartition(n_files, "doc_id").write.parquet(path)
            write_manifest(spark, path, stats_cols=["grp"])
            write_blooms(spark, path, ["doc_id"])
            arms[arm] = path
        res["table_bytes"] = _du(arms["cow"])

        # 50 scattered point deletes (hash-scattered doc_ids → distinct
        # files with high probability) issued as ONE predicate. The
        # stride spreads them over the whole id range, so every key
        # exists at any n_rows (79,999 at the 4M default).
        stride = max(1, (n_rows - 1) // 50)
        keys = [f"doc-{i * stride}" for i in range(min(50, n_rows))]
        pred = "doc_id IN (" + ",".join(f"'{k}'" for k in keys) + ")"

        snap = _files(arms["cow"])
        t0 = time.perf_counter()
        r_cow = delete_from(spark, arms["cow"], pred)
        res["cow_delete_s"] = round(time.perf_counter() - t0, 3)
        res["cow_rows_deleted"] = r_cow["rows_deleted"]
        res["cow_files_touched"] = r_cow.get("files_touched")
        res["cow_bytes_written"] = _bytes_written(snap, arms["cow"])

        snap = _files(arms["mor"])
        t0 = time.perf_counter()
        r_mor = delete_from_mor(spark, arms["mor"], pred)
        res["mor_delete_s"] = round(time.perf_counter() - t0, 3)
        res["mor_rows_deleted"] = r_mor["rows_deleted"]
        res["mor_bytes_written"] = _bytes_written(snap, arms["mor"])

        # Equality arm: scan-free — record the 50 keys themselves.
        snap = _files(arms["eq"])
        t0 = time.perf_counter()
        r_eq = delete_keys_mor(spark, arms["eq"], "doc_id", keys)
        res["eq_delete_s"] = round(time.perf_counter() - t0, 3)
        res["eq_keys_recorded"] = r_eq["keys_recorded"]
        res["eq_bytes_written"] = _bytes_written(snap, arms["eq"])
        t0 = time.perf_counter()
        n_eq = read_with_deletes(spark, arms["eq"]).count()
        res["eq_read_s"] = round(time.perf_counter() - t0, 3)
        assert n_eq == n_rows - len(keys)

        # Read overhead while DVs are live (full count, anti join on).
        t0 = time.perf_counter()
        n_mor = read_with_deletes(spark, arms["mor"]).count()
        res["mor_read_s"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        n_cow = spark.read.parquet(arms["cow"]).count()
        res["cow_read_s"] = round(time.perf_counter() - t0, 3)
        assert n_mor == n_cow == n_rows - len(keys), (n_mor, n_cow)

        # The deferred bill: purge folds DVs back through COW.
        snap = _files(arms["mor"])
        t0 = time.perf_counter()
        r_purge = purge_deletes(spark, arms["mor"])
        res["purge_s"] = round(time.perf_counter() - t0, 3)
        res["purge_files_touched"] = r_purge["files_touched"]
        res["purge_bytes_written"] = _bytes_written(snap, arms["mor"])
        res["amplification_x"] = round(
            res["cow_bytes_written"] / max(res["mor_bytes_written"], 1), 1
        )
        print(json.dumps(res))
    finally:
        spark.stop()
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
