"""Streaming incremental discover (Auto-Loader shape, SURVEY §2.9).

Exactly-once semantics under test: drain the tree → every episode NEW;
add a file and re-run against the SAME checkpoint → only the new file is
processed (seen files are never re-fingerprinted). The file source
tracks seen files BY PATH, so an in-place rewrite is deliberately NOT
re-emitted — CHANGED detection is the batch reconciliation pass's job,
composed here by feeding the streamed manifest into pipeline.discover
as prev_manifest."""

from __future__ import annotations

import shutil
import time

import numpy as np
import pandas as pd
import pytest


@pytest.fixture()
def tree(lerobot_fixture, tmp_path):
    root = tmp_path / "tree"
    shutil.copytree(lerobot_fixture, root)
    return root


def _write_episode(path, ep, n=30, seed=0):
    rng = np.random.default_rng(seed)
    fi = np.arange(n)
    pd.DataFrame(
        {
            "action": list(rng.normal(size=(n, 8)).astype(np.float32)),
            "observation.state": list(rng.normal(size=(n, 8)).astype(np.float32)),
            "timestamp": fi / 30.0,
            "frame_index": fi,
            "episode_index": np.full(n, ep),
            "index": fi,
            "task_index": np.zeros(n, dtype=np.int64),
        }
    ).to_parquet(path, index=False)


def test_streaming_discover_incremental(spark, tree, tmp_path):
    from imitation_learning_data_pipeline_spark.streaming.discover_stream import (
        run_discover_stream,
    )

    manifest = str(tmp_path / "manifest.parquet")
    ckpt = str(tmp_path / "ckpt")

    m1 = run_discover_stream(spark, str(tree), manifest, ckpt)
    rows1 = {r.episode_index: r.status for r in m1.collect()}
    assert len(rows1) == 19  # every episode parquet in the fixture
    assert set(rows1.values()) == {"NEW"}

    # Add one brand-new episode; re-run on the same checkpoint.
    _write_episode(tree / "data" / "chunk-000" / "episode_000042.parquet", 42)
    m2 = run_discover_stream(spark, str(tree), manifest, ckpt)
    rows2 = {r.episode_index: r.status for r in m2.collect()}
    rows2_full = {
        r.episode_index: (r.status, r.fingerprint) for r in m2.collect()
    }
    assert len(rows2) == 20
    assert rows2[42] == "NEW"
    # Previously-seen rows were carried, not reprocessed.
    assert rows2[0] == "NEW"

    # Rewrite an existing episode in place (ep 1: has both videos): the
    # path-keyed file source does NOT re-emit it — the streamed manifest
    # keeps the old row...
    time.sleep(1.1)
    _write_episode(tree / "data" / "chunk-000" / "episode_000001.parquet", 1, seed=9)
    m3 = run_discover_stream(spark, str(tree), manifest, ckpt)
    rows3 = {r.episode_index: (r.status, r.fingerprint) for r in m3.collect()}
    assert rows3[1] == rows2_full[1]  # untouched by the stream
    assert len(rows3) == 20

    # ...and the periodic BATCH reconciliation pass, fed the streamed
    # manifest as prev, is what surfaces the in-place rewrite as CHANGED.
    from imitation_learning_data_pipeline_spark.pipeline import discover

    reconciled = discover(spark, str(tree), prev_manifest=m3)
    statuses = {r.episode_index: r.status for r in reconciled.collect()}
    assert statuses[1] == "CHANGED"
    assert statuses[0] == "UNCHANGED"
    assert statuses[42] == "MISSING_SIDE"  # streamed-in ep has no videos


def test_streaming_manifest_survives_a_crashed_swap(spark, tree, tmp_path):
    """A micro-batch that crashes mid-swap — the previous manifest
    already dropped, the new one not yet moved in — must not lose the
    manifest: the swap's journal landed first, so the next run finishes
    the swap before any batch reads the prior manifest, and every
    episode seen before the crash keeps its row. The replay of the
    crashed batch is a no-op: its episode stays NEW."""
    from imitation_learning_data_pipeline_spark.pipeline import fsio
    from imitation_learning_data_pipeline_spark.streaming.discover_stream import (
        run_discover_stream,
    )

    manifest = str(tmp_path / "manifest.parquet")
    ckpt = str(tmp_path / "ckpt")
    m1 = run_discover_stream(spark, str(tree), manifest, ckpt)
    seen = {r.episode_index for r in m1.collect()}
    assert len(seen) == 19

    _write_episode(tree / "data" / "chunk-000" / "episode_000042.parquet", 42)

    def drop_then_crash(fs, jvm_path, live, tmp):
        fsio._rm(fs, jvm_path, live)
        raise RuntimeError("injected crash")

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(fsio, "_swap_in", drop_then_crash)
        with pytest.raises(Exception, match="injected crash"):
            run_discover_stream(spark, str(tree), manifest, ckpt)

    m2 = run_discover_stream(spark, str(tree), manifest, ckpt)
    rows = {r.episode_index: r.status for r in m2.collect()}
    assert set(rows) == seen | {42}
    assert {rows[ep] for ep in seen} == {"NEW"}
    assert rows[42] == "NEW"
