"""Output checks against independent computations (pyarrow, numpy,
hashlib; no Spark).

Each check returns a list of problems; an empty list means the output
is right. ``check_*`` functions take the paths the pipeline wrote and
the facts the input generator recorded.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

from inputs import chunk_of

FEATURES = ("action", "observation.state")
SPLIT_FRACS = (0.8, 0.1, 0.1)
SPLIT_SEED = "42"
STATS_TOL = 1e-6


def expected_split(ep: int, seed: str = SPLIT_SEED) -> str:
    """Split of one episode: the top 32 bits of md5("<seed>|<ep>") as a
    fraction of 2**32, cut at the train/val/test fractions."""
    u = int(hashlib.md5(f"{seed}|{ep}".encode()).hexdigest()[:8], 16) / 2.0**32
    train, val, _test = SPLIT_FRACS
    return "train" if u < train else "val" if u < train + val else "test"


def parquet_files(root: str) -> list[str]:
    """Data files under ``root``: ``*.parquet`` only, so links to videos
    and Spark's marker files are skipped."""
    return sorted(glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True))


def tree_size(root: str) -> tuple[float, int]:
    """(MB, count) of the parquet files under ``root``."""
    files = parquet_files(root)
    return sum(os.path.getsize(f) for f in files) / (1024 * 1024), len(files)


def check_manifest(manifest_dir: str, expected: dict[str, int]) -> list[str]:
    statuses = pq.read_table(manifest_dir, columns=["status"]).column("status")
    counts = {r["values"]: r["counts"] for r in pc.value_counts(statuses).to_pylist()}
    want = {k: v for k, v in expected.items() if v}
    return [] if counts == want else [f"manifest statuses {counts} != {want}"]


def failed_episodes(summary_yaml: str) -> int:
    """The ``fail`` count of validate's ``summary.yaml``."""
    with open(summary_yaml) as f:
        summary = dict(line.strip().split(": ") for line in f if ": " in line)
    return int(summary["fail"])


def check_failed_count(summary_yaml: str, episodes: dict[int, dict]) -> list[str]:
    want = sum(1 for e in episodes.values() if e["defect"])
    got = failed_episodes(summary_yaml)
    return [] if got == want else [f"validate failed {got} episodes, injected {want}"]


def reference_stats(tree: str, episodes: dict[int, dict]) -> dict[str, dict]:
    """Global per-dim count/mean/std/min/max over the clean episodes'
    frames, straight from the input files."""
    clean = [ep for ep, e in sorted(episodes.items()) if not e["defect"]]
    cols = {f: [] for f in FEATURES}
    for ep in clean:
        path = os.path.join(tree, "data", chunk_of(ep), f"episode_{ep:06d}.parquet")
        t = pq.read_table(path, columns=list(FEATURES))
        for f in FEATURES:
            flat = t.column(f).combine_chunks().flatten().to_numpy()
            cols[f].append(flat.reshape(t.num_rows, -1).astype(np.float64))
    out = {}
    for f, parts in cols.items():
        x = np.concatenate(parts)
        out[f] = {
            "count": int(x.shape[0]),
            "mean": x.mean(axis=0).tolist(),
            "std": x.std(axis=0).tolist(),
            "min": x.min(axis=0).tolist(),
            "max": x.max(axis=0).tolist(),
        }
    return out


def compare_stats(got: dict, want: dict, tol: float = STATS_TOL) -> list[str]:
    problems = []
    for f, w in want.items():
        g = got.get(f)
        if g is None:
            problems.append(f"global stats lack {f}")
            continue
        if g["count"] != w["count"]:
            problems.append(f"{f}.count {g['count']} != {w['count']}")
        for k in ("mean", "std", "min", "max"):
            a, b = np.asarray(g[k], dtype=float), np.asarray(w[k], dtype=float)
            if a.shape != b.shape or np.any(np.abs(a - b) > tol * np.maximum(1.0, np.abs(b))):
                problems.append(f"{f}.{k} differs from numpy beyond {tol}")
    return problems


def check_stats(stats_json: str, tree: str, episodes: dict[int, dict]) -> list[str]:
    with open(stats_json) as f:
        got = json.load(f)
    return compare_stats(got, reference_stats(tree, episodes))


_PART_RE = re.compile(r"split=([^/]+)/chunk=([^/]+)/")


def materialized_rows(data_dir: str) -> dict[int, dict[str, int]]:
    """{episode: {split: rows}} of a materialized dataset."""
    out: dict[int, dict[str, int]] = {}
    for path in parquet_files(data_dir):
        m = _PART_RE.search(os.path.relpath(path, data_dir) + "/")
        if m is None:
            raise ValueError(f"{path} is not under split=/chunk=")
        eps = pq.read_table(path, columns=["episode_index"]).column("episode_index")
        for row in pc.value_counts(eps).to_pylist():
            per = out.setdefault(int(row["values"]), {})
            per[m.group(1)] = per.get(m.group(1), 0) + row["counts"]
    return out


def compare_materialized(got: dict[int, dict[str, int]], episodes: dict[int, dict]) -> list[str]:
    problems = []
    want = {ep: e["aligned_rows"] for ep, e in episodes.items()}
    if set(got) != set(want):
        extra, missing = sorted(set(got) - set(want)), sorted(set(want) - set(got))
        problems.append(f"materialized episodes differ: extra {extra[:5]} missing {missing[:5]}")
    for ep in sorted(set(got) & set(want)):
        splits = got[ep]
        split = expected_split(ep)
        if list(splits) != [split]:
            problems.append(f"episode {ep} in splits {sorted(splits)}, expected {split}")
        elif splits[split] != want[ep]:
            problems.append(f"episode {ep} has {splits[split]} rows, expected {want[ep]}")
    return problems[:10]


def check_materialized(data_dir: str, episodes: dict[int, dict]) -> list[str]:
    return compare_materialized(materialized_rows(data_dir), episodes)


def compare_curated(ingested_ids: set, curated_ids: list, curated_texts: list[str]) -> list[str]:
    problems = []
    if not curated_ids:
        problems.append("curation kept no documents")
    stray = set(curated_ids) - ingested_ids
    if stray:
        problems.append(f"{len(stray)} curated doc ids were never ingested")
    if len(set(curated_ids)) != len(curated_ids):
        problems.append("curated doc ids repeat")
    digests = [hashlib.md5(t.encode()).hexdigest() for t in curated_texts]
    if len(set(digests)) != len(digests):
        problems.append("curated texts repeat (md5)")
    return problems


def check_web(ingested_dir: str, curated_dir: str, expected_docs: int) -> list[str]:
    ingested = pq.read_table(ingested_dir, columns=["doc_id"]).column("doc_id").to_pylist()
    problems = []
    if len(ingested) != expected_docs:
        problems.append(f"ingested {len(ingested)} docs, expected {expected_docs}")
    curated = pq.read_table(curated_dir, columns=["doc_id", "text"])
    return problems + compare_curated(
        set(ingested),
        curated.column("doc_id").to_pylist(),
        curated.column("text").to_pylist(),
    )
