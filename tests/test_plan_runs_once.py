"""Regression guards: each LeRobot CLI verb executes its stage plan once.

A verb runs under its own Spark job group; the status store then gives
the jobs it launched and the bytes its stages read. Re-running a lazy
plan shows up as a second pass over the input bytes.
"""

from __future__ import annotations

import glob
import os
import shutil

from conftest import measured, run_cli


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

    once = measured(spark, one_pass)
    verb = measured(
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

    assert measured(spark, plan()).input_bytes == parquet_bytes

    argv = ["discover", "--data-root", root, "--manifest", manifest]
    _cli(argv)()
    prior = spark.read.parquet(manifest)
    with_prior = measured(spark, plan(prior))
    assert parquet_bytes < with_prior.input_bytes
    assert with_prior.input_bytes <= parquet_bytes + _bytes(f"{manifest}/*.parquet")

    # A plan that reads the parquets twice, the videos three times and
    # the manifest twice runs 23 jobs here; this one runs 12.
    assert measured(spark, _cli(argv)).jobs <= 12


def test_rewrite_dups_summarizes_what_it_wrote(spark, tmp_path):
    """cli rewrite-dups runs its span-removal plan once: the summary
    aggregates the committed output (two narrow columns), not a second
    run of the plan over the corpus."""
    from imitation_learning_data_pipeline_spark.plans.dedup import remove_dup_spans

    src = str(tmp_path / "docs")
    shared = " ".join(f"w{i}" for i in range(40))
    spark.createDataFrame(
        [(i, f"doc {i} {shared} tail {i % 7} end{i}") for i in range(300)],
        "doc_id long, text string",
    ).coalesce(2).write.parquet(src)

    def one_pass():
        docs = spark.read.parquet(src).select("doc_id", "text")
        remove_dup_spans(docs, n=8).write.format("noop").mode("overwrite").save()

    once = measured(spark, one_pass)
    verb = measured(
        spark, _cli(["rewrite-dups", "--input", src, "--out", str(tmp_path / "out")])
    )
    assert once.input_bytes > 0
    assert verb.input_bytes < 1.5 * once.input_bytes
