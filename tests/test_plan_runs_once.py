"""Regression guards: each LeRobot CLI verb executes its stage plan once.

A verb runs under its own Spark job group; the status store then gives
the jobs it launched and the bytes its stages read. Re-running a lazy
plan shows up as a second pass over the input bytes.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid
from dataclasses import dataclass

from conftest import run_cli


@dataclass
class Work:
    jobs: int
    input_bytes: int


def _measured(spark, action) -> Work:
    """Jobs launched, and stage input bytes read, by ``action()``."""
    sc = spark.sparkContext
    group = f"plan-runs-once-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    stage_ids = {s for j in job_ids for s in tracker.getJobInfo(j).stageIds}
    store = sc._jsc.sc().statusStore()
    empty = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    stages = store.stageList(None, False, False, empty, None)
    input_bytes = 0
    for i in range(stages.size()):
        st = stages.apply(i)
        if st.stageId() in stage_ids:
            input_bytes += st.inputBytes()
    return Work(len(job_ids), input_bytes)


def _cli(argv):
    def action():
        res = run_cli(argv)
        assert res.returncode in (0, 1), res.stderr

    return action


def _bytes(pattern: str) -> int:
    return sum(os.path.getsize(f) for f in glob.glob(pattern))


def _private_tree(lerobot_fixture, tmp_path) -> str:
    """A copy of the fixture tree: a frame another test cached over the
    shared fixture would otherwise serve these plans from memory."""
    return str(shutil.copytree(lerobot_fixture, tmp_path / "tree"))


def test_validate_reads_the_frames_once(spark, lerobot_fixture, tmp_path):
    """cli validate reads the frames once: its input is one run of the
    report plan plus small read-backs of the written report, not the
    four runs of one per output."""
    from imitation_learning_data_pipeline_spark.pipeline.validate import (
        validate_episodes,
    )

    root = _private_tree(lerobot_fixture, tmp_path)

    def one_pass():
        frames = spark.read.parquet(f"{root}/data/*")
        meta = spark.read.json(f"{root}/meta/episodes.jsonl")
        validate_episodes(frames, meta).write.format("noop").mode("overwrite").save()

    once = _measured(spark, one_pass)
    verb = _measured(
        spark,
        _cli(["validate", "--data-root", root, "--meta-dir", f"{root}/meta",
              "--out", str(tmp_path / "v"), "--skip-video"]),
    )
    assert once.input_bytes > 0
    assert verb.input_bytes < 2 * once.input_bytes


def test_discover_reads_each_source_once(spark, lerobot_fixture, tmp_path):
    """The discover plan reads the episode parquets once (the fingerprint
    scan), the videos as metadata only, and the prior manifest once; and
    cli discover stays within a job budget."""
    from imitation_learning_data_pipeline_spark.pipeline.discover import discover

    root = _private_tree(lerobot_fixture, tmp_path)
    manifest = str(tmp_path / "m" / "episodes.parquet")
    parquet_bytes = _bytes(f"{root}/data/*/*.parquet")

    def plan(prev=None):
        def action():
            discover(spark, root, prev).write.format("noop").mode("overwrite").save()

        return action

    assert _measured(spark, plan()).input_bytes == parquet_bytes

    argv = ["discover", "--data-root", root, "--manifest", manifest]
    _cli(argv)()
    prior = spark.read.parquet(manifest)
    with_prior = _measured(spark, plan(prior))
    assert parquet_bytes < with_prior.input_bytes
    assert with_prior.input_bytes <= parquet_bytes + _bytes(f"{manifest}/*.parquet")

    # A plan that reads the parquets twice, the videos three times and
    # the manifest twice runs 23 jobs here; this one runs 12.
    assert _measured(spark, _cli(argv)).jobs <= 12
