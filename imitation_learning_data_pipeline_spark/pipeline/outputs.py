"""Validate-stage sink bundle (reference K2/K5/K6/K7).

Reference: validate_from_manifest_refactored.py:92-113 writes
episodes.parquet, failures.jsonl, validated_episodes.jsonl, summary.yaml.
Same outputs here: DataFrame writers for the distributed artifacts, a
driver-side dump for the one-row summary document (engine work vs
document work, SURVEY §2.2 K6-K7).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .validate import validation_summary


def write_validation_outputs(report: DataFrame, out_dir: str) -> dict:
    """Write all four validate-stage artifacts; return the summary dict.

    The per-frame report plan runs once, for ``episodes.parquet``; the
    other three artifacts read that written report back (one row per
    episode).
    """
    os.makedirs(out_dir, exist_ok=True)

    report.write.mode("overwrite").parquet(f"{out_dir}/episodes.parquet")
    written = report.sparkSession.read.parquet(f"{out_dir}/episodes.parquet")

    # failures.jsonl — failed episodes with their check flags (K5).
    (
        written.filter(~F.col("ok"))
        .write.mode("overwrite")
        .json(f"{out_dir}/failures.jsonl")
    )

    # validated_episodes.jsonl — projected pass list (K5, the projection
    # at validate_from_manifest_refactored.py:101-107).
    (
        written.filter(F.col("ok"))
        .select("episode_index", "n_rows")
        .write.mode("overwrite")
        .json(f"{out_dir}/validated_episodes.jsonl")
    )

    # summary.yaml — one-row aggregate formatted driver-side (K6).
    s = validation_summary(written).collect()[0]
    summary = {"total": s.total, "ok": s.ok, "fail": s.fail}
    with open(f"{out_dir}/summary.yaml", "w") as f:
        for k, v in summary.items():
            f.write(f"{k}: {v}\n")

    # global-stats-style JSON document sink helper lives with the caller;
    # kept here for manifest docs (K7).
    with open(f"{out_dir}/_manifest.json", "w") as f:
        json.dump({"artifacts": ["episodes.parquet", "failures.jsonl",
                                 "validated_episodes.jsonl", "summary.yaml"]}, f)
    return summary
