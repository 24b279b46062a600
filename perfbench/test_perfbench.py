"""Tests of the benchmark's own helpers, plus one smoke-size run per
workload. Run from the root of a checkout::

    python3 -m pytest perfbench -q                 # helpers only
    PERFBENCH_SMOKE=1 python3 -m pytest perfbench -q   # and smoke runs
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import checks
import inputs
import measure
from workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# --- order statistics ---------------------------------------------------------


def test_quartiles_match_statistics():
    v = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0, 5.5, 3.5]
    q1, q2, q3 = measure.quartiles(v)
    assert [q1, q2, q3] == statistics.quantiles(v, n=4)
    assert measure.median(v) == statistics.median(v)
    assert measure.spread(v) == pytest.approx((q3 - q1) / q2)


def test_single_value_has_no_spread():
    assert measure.quartiles([2.5]) == (2.5, 2.5, 2.5)
    assert measure.spread([2.5]) == 0.0
    with pytest.raises(ValueError):
        measure.median([])


# --- spans --------------------------------------------------------------------


def test_self_time_subtracts_direct_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 1, "start": 2.0, "end": 3.0},   # grandchild
        {"id": 3, "parent": 0, "start": 5.0, "end": 7.0},
    ]
    st = measure.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 3.0 - 2.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(1.0)
    assert st[3] == pytest.approx(2.0)


def test_process_tree_peak_counts_a_short_lived_child():
    measure.become_subreaper()
    tree = measure.ProcessTree(interval_s=0.05)
    tree.start()
    # holds ~64 MB for a moment, then idles until the monitor has seen it
    proc = subprocess.Popen([sys.executable, "-c",
                             "import time; b = bytearray(64 << 20); del b; time.sleep(0.5)"])
    tree.watch()
    proc.wait()
    usage = tree.finish(grace_s=5.0)
    assert usage["peak_rss_mb"] > 64
    assert usage["cpu_s"] > 0


# --- status-store deltas ------------------------------------------------------


def _stage(run_ms=0, cpu_ns=0, inp=0, out=0, shuf=0, spill=0):
    return dict(zip(measure.STAGE_FIELDS, (run_ms, cpu_ns, inp, out, shuf, spill)))


def test_stage_delta_counts_only_new_stages():
    mb = 1024 * 1024
    before = {"stages": {(0, 0): _stage(500, 10**9, mb)}, "jobs": 1}
    after = {
        "stages": {
            (0, 0): _stage(500, 10**9, mb),
            (1, 0): _stage(1500, 2 * 10**9, 2 * mb, 3 * mb, 4 * mb, 5 * mb),
            (1, 1): _stage(500, 0, 0, 0, 0, 0),  # a retried attempt counts too
        },
        "jobs": 3,
    }
    d = measure.stage_delta(before, after)
    assert d == {"task_s": 2.0, "task_cpu_s": 2.0, "jobs": 2, "input_mb": 2.0,
                 "shuffle_mb": 4.0, "spill_mb": 5.0, "output_mb": 3.0}


# --- inputs and output checks -------------------------------------------------


def test_lerobot_tree_records_its_defects(tmp_path):
    eps = inputs.lerobot_tree(str(tmp_path), seed=3, n_episodes=12, frames=40)
    defects = [e["defect"] for e in eps.values() if e["defect"]]
    assert sorted(defects) == sorted(inputs.DEFECTS)
    for ep, e in eps.items():
        t = pq.read_table(tmp_path / "data" / "chunk-000" / f"episode_{ep:06d}.parquet")
        assert t.num_rows == e["file_rows"]
        if e["defect"] == "dup_frame":
            assert e["aligned_rows"] == e["file_rows"] - 1
        if e["defect"] == "wide_action":
            widths = pa.compute.list_value_length(t.column("action")).to_pylist()
            assert sorted(set(widths)) == [8, 9]
    # same seed, same bytes
    again = inputs.lerobot_tree(str(tmp_path / "again"), seed=3, n_episodes=12, frames=40)
    assert again == eps


def test_reference_stats_and_comparison(tmp_path):
    eps = inputs.lerobot_tree(str(tmp_path), seed=5, n_episodes=10, frames=30)
    ref = checks.reference_stats(str(tmp_path), eps)
    clean_rows = sum(e["file_rows"] for e in eps.values() if not e["defect"])
    assert ref["action"]["count"] == clean_rows
    assert checks.compare_stats(ref, ref) == []
    bad = json.loads(json.dumps(ref))
    bad["observation.state"]["std"][3] += 1e-4
    assert checks.compare_stats(bad, ref) == ["observation.state.std differs from numpy beyond 1e-06"]


def test_expected_split_is_md5_of_seeded_key():
    u = int(hashlib.md5(b"42|7").hexdigest()[:8], 16) / 2**32
    assert checks.expected_split(7) == ("train" if u < 0.8 else "val" if u < 0.9 else "test")
    shares = [checks.expected_split(ep) for ep in range(5000)]
    assert abs(shares.count("train") / 5000 - 0.8) < 0.03


def test_compare_materialized():
    eps = {1: {"aligned_rows": 10}, 2: {"aligned_rows": 5}}
    good = {ep: {checks.expected_split(ep): e["aligned_rows"]} for ep, e in eps.items()}
    assert checks.compare_materialized(good, eps) == []
    short = {**good, 2: {checks.expected_split(2): 4}}
    assert checks.compare_materialized(short, eps) == ["episode 2 has 4 rows, expected 5"]
    wrong = {**good, 1: {"nosuch": 10}}
    assert "episode 1 in splits" in checks.compare_materialized(wrong, eps)[0]
    assert "missing [2]" in checks.compare_materialized({1: good[1]}, eps)[0]


def test_materialized_rows_skip_non_parquet(tmp_path):
    part = tmp_path / "split=train" / "chunk=chunk-000"
    part.mkdir(parents=True)
    pq.write_table(pa.table({"episode_index": [1, 1, 2]}), part / "part-0.parquet")
    (part / "cam_front").mkdir()
    (part / "cam_front" / "episode_000001.mp4").write_bytes(b"x")
    assert checks.materialized_rows(str(tmp_path)) == {1: {"train": 2}, 2: {"train": 1}}
    assert checks.tree_size(str(tmp_path))[1] == 1


def test_manifest_and_failed_count(tmp_path):
    pq.write_table(pa.table({"status": ["NEW", "NEW", "CHANGED"]}), tmp_path / "part.parquet")
    assert checks.check_manifest(str(tmp_path), {"NEW": 2, "CHANGED": 1, "DELETED": 0}) == []
    assert checks.check_manifest(str(tmp_path), {"NEW": 3}) != []
    (tmp_path / "summary.yaml").write_text("total: 4\nok: 3\nfail: 1\n")
    eps = {0: {"defect": None}, 1: {"defect": "nan_ts"}}
    assert checks.check_failed_count(str(tmp_path / "summary.yaml"), eps) == []


def test_compare_curated():
    assert checks.compare_curated({1, 2, 3}, [1, 2], ["a", "b"]) == []
    assert checks.compare_curated({1, 2}, [1, 9], ["a", "b"]) == [
        "1 curated doc ids were never ingested"]
    assert checks.compare_curated({1, 2}, [1, 2], ["a", "a"]) == ["curated texts repeat (md5)"]
    assert checks.compare_curated({1}, [], []) == ["curation kept no documents"]


def test_incremental_tree_links_unchanged_episodes(tmp_path):
    base = inputs.lerobot_tree(str(tmp_path / "base"), seed=1, n_episodes=200, frames=20)
    eps, statuses = inputs.incremental_tree(
        str(tmp_path / "base"), base, str(tmp_path / "cur"), seed=9, frames=20)
    assert statuses == {"NEW": 20, "CHANGED": 4, "DELETED": 2, "UNCHANGED": 194}
    assert len(eps) == 200 - 2 + 20
    same = [ep for ep in base if ep in eps and eps[ep] == base[ep]]
    ep = same[0]
    rel = os.path.join("data", "chunk-000", f"episode_{ep:06d}.parquet")
    assert os.path.samefile(tmp_path / "base" / rel, tmp_path / "cur" / rel)


def test_warc_corpus_counts_ok_pages(tmp_path):
    import gzip

    docs = str(tmp_path / "documents.parquet")
    inputs.documents_table(docs, seed=2, n_docs=60)
    n_ok = inputs.warc_corpus(str(tmp_path / "warc"), docs, seed=2, replicas=5, n_files=3)
    statuses = []
    for name in sorted(os.listdir(tmp_path / "warc")):
        data = gzip.decompress((tmp_path / "warc" / name).read_bytes())
        statuses += [line.split(b" ")[1] for line in data.split(b"\r\n")
                     if line.startswith(b"HTTP/1.1 ")]
    assert len(statuses) == 300
    assert statuses.count(b"200") == n_ok


# --- end to end ---------------------------------------------------------------


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "web_curation", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


@pytest.mark.skipif(not os.environ.get("PERFBENCH_SMOKE"), reason="set PERFBENCH_SMOKE=1")
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in wanted}
    if trace:
        m = {k: v["value"] for k, v in out["metrics"].items()}
        verbs = sum(v for k, v in m.items() if k.startswith("cli.") and k.endswith(".wall_s"))
        rest = m["trace.run_s"] - m["session.start_s"] - m["orchestration.overhead_s"]
        assert verbs == pytest.approx(rest, rel=0.05)
