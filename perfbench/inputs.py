"""Seeded input generators for the benchmark workloads.

Every generator here is independent of the package under test: the
LeRobot trees, the document table and the WARC corpus are written with
numpy, pyarrow and gzip only, so a change to the package cannot change
what the benchmark feeds it. Each generator also returns the facts the output checks need
(injected defects, expected per-episode row counts, manifest statuses),
computed from the generator's own choices rather than from any output.

LeRobot tree layout (what ``cli discover`` / ``validate`` read)::

    data/chunk-NNN/episode_NNNNNN.parquet
    videos/chunk-NNN/cam_{front,wrist}/episode_NNNNNN.mp4
    meta/episodes.jsonl
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VECTOR_WIDTH = 8
FPS = 30.0
EPISODES_PER_CHUNK = 1000
CAMERAS = ("cam_front", "cam_wrist")

# Defect kinds, each failing exactly one validate check, mapped to how
# many rows align-transform keeps beyond the episode's clean length
# (the dup row is added to the file, then de-duplicated away).
DEFECTS = {
    "dup_frame": 0,     # frame_index repeated       -> frame_index_not_sorted
    "nan_ts": -1,       # one NaN timestamp          -> timestamp_not_sorted
    "wide_action": -1,  # one width-9 action vector  -> action_width
    "swapped": 0,       # two frame_index swapped    -> frame_index_not_sorted
    "meta_len": 0,      # meta length off by 5       -> rows_vs_meta
}


def chunk_of(ep: int) -> str:
    return f"chunk-{ep // EPISODES_PER_CHUNK:03d}"


def _vector_column(values: np.ndarray, widths: np.ndarray) -> pa.Array:
    offsets = np.zeros(len(widths) + 1, dtype=np.int32)
    np.cumsum(widths, out=offsets[1:])
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(values))


def episode_table(
    rng: np.random.Generator, ep: int, n: int, first_index: int, defect: str | None
) -> pa.Table:
    """One episode's frames, with ``defect`` injected (or none).

    Returns the table as written to disk; the file has ``n`` rows, plus
    one for ``dup_frame``.
    """
    action = rng.normal(0.0, 1.0, size=(n, VECTOR_WIDTH)).astype(np.float32)
    state = rng.normal(5.0, 2.0, size=(n, VECTOR_WIDTH)).astype(np.float32)
    frame_index = np.arange(n, dtype=np.int64)
    timestamp = frame_index / FPS
    action_w = np.full(n, VECTOR_WIDTH, dtype=np.int32)
    action_vals = action.ravel()
    if defect == "nan_ts":
        timestamp[7] = np.nan
    elif defect == "swapped":
        frame_index[[2, 3]] = [3, 2]
    elif defect == "wide_action":
        action_w[4] = VECTOR_WIDTH + 1
        at = 4 * VECTOR_WIDTH + VECTOR_WIDTH
        action_vals = np.insert(action_vals, at, np.float32(0.5))
    rows = {
        "action": _vector_column(action_vals, action_w),
        "observation.state": _vector_column(
            state.ravel(), np.full(n, VECTOR_WIDTH, dtype=np.int32)
        ),
        "timestamp": pa.array(timestamp),
        "frame_index": pa.array(frame_index),
        "episode_index": pa.array(np.full(n, ep, dtype=np.int64)),
        "index": pa.array(np.arange(first_index, first_index + n, dtype=np.int64)),
        "task_index": pa.array(np.zeros(n, dtype=np.int64)),
    }
    table = pa.table(rows)
    if defect == "dup_frame":
        # a second row with frame_index 10 right after the first one; the
        # keep-first de-duplication in align must drop this copy
        dup = table.slice(10, 1)
        table = pa.concat_tables([table.slice(0, 11), dup, table.slice(11)])
    return table


def write_episode(root: str, ep: int, table: pa.Table) -> None:
    data_dir = os.path.join(root, "data", chunk_of(ep))
    os.makedirs(data_dir, exist_ok=True)
    pq.write_table(table, os.path.join(data_dir, f"episode_{ep:06d}.parquet"))


def write_videos(root: str, ep: int) -> None:
    for cam in CAMERAS:
        vdir = os.path.join(root, "videos", chunk_of(ep), cam)
        os.makedirs(vdir, exist_ok=True)
        with open(os.path.join(vdir, f"episode_{ep:06d}.mp4"), "wb") as f:
            f.write(b"\x00fakemp4" * 16)


def write_meta(root: str, episodes: dict[int, dict]) -> None:
    meta_dir = os.path.join(root, "meta")
    os.makedirs(meta_dir, exist_ok=True)
    with open(os.path.join(meta_dir, "episodes.jsonl"), "w") as f:
        for ep in sorted(episodes):
            e = episodes[ep]
            length = e["file_rows"] + (5 if e["defect"] == "meta_len" else 0)
            f.write(
                json.dumps(
                    {"episode_index": ep, "tasks": ["pick cube place box"], "length": length}
                )
                + "\n"
            )


def new_episode(
    rng: np.random.Generator, root: str, ep: int, frames: int, defect: str | None
) -> dict:
    """Write one episode (parquet + both videos); return its facts."""
    n = frames + int(rng.integers(-frames // 10, frames // 10 + 1))
    table = episode_table(rng, ep, n, ep * 100_000, defect)
    write_episode(root, ep, table)
    write_videos(root, ep)
    return {
        "defect": defect,
        "file_rows": table.num_rows,
        "aligned_rows": n + (DEFECTS[defect] if defect else 0),
    }


def pick_defects(rng: np.random.Generator, episodes: list[int], share: float) -> dict:
    """Map a ``share`` of ``episodes`` to defect kinds, round-robin."""
    k = max(len(DEFECTS), int(round(len(episodes) * share)))
    chosen = sorted(rng.choice(episodes, size=min(k, len(episodes)), replace=False))
    kinds = list(DEFECTS)
    return {int(ep): kinds[i % len(kinds)] for i, ep in enumerate(chosen)}


def lerobot_tree(
    root: str, seed: int, n_episodes: int, frames: int, defect_share: float = 0.05
) -> dict[int, dict]:
    """A fresh LeRobot tree at ``root``; returns ``{episode: facts}``."""
    rng = np.random.default_rng(seed)
    defects = pick_defects(rng, list(range(n_episodes)), defect_share)
    episodes = {
        ep: new_episode(rng, root, ep, frames, defects.get(ep)) for ep in range(n_episodes)
    }
    write_meta(root, episodes)
    return episodes


def _link_tree(src_root: str, dst_root: str, skip: set[int]) -> None:
    """Hard-link every episode file of ``src_root`` into ``dst_root``
    (same bytes, no copy), leaving out episodes in ``skip``."""
    for dirpath, _dirs, files in os.walk(src_root):
        rel = os.path.relpath(dirpath, src_root)
        if rel.split(os.sep)[0] not in ("data", "videos"):
            continue
        out = os.path.join(dst_root, rel)
        os.makedirs(out, exist_ok=True)
        for name in files:
            if not name.startswith("episode_"):
                continue
            if int(name.split("_")[1].split(".")[0]) in skip:
                continue
            os.link(os.path.join(dirpath, name), os.path.join(out, name))


def incremental_tree(
    base_root: str,
    base: dict[int, dict],
    root: str,
    seed: int,
    frames: int,
    new_share: float = 0.10,
    changed_share: float = 0.02,
    deleted_share: float = 0.01,
) -> tuple[dict[int, dict], dict[str, int]]:
    """The current tree of an incremental run: ``base`` with a seeded
    share of episodes deleted, rewritten (CHANGED) and appended (NEW).

    Unchanged episodes are hard links into ``base_root``, so their
    bytes, and thus their fingerprints, equal the prior manifest's.
    Returns ``({episode: facts}, expected manifest status counts)``.
    """
    rng = np.random.default_rng(seed)
    ids = sorted(base)
    n_del = max(1, int(round(len(ids) * deleted_share)))
    n_chg = max(1, int(round(len(ids) * changed_share)))
    n_new = max(1, int(round(len(ids) * new_share)))
    picked = rng.choice(ids, size=n_del + n_chg, replace=False)
    deleted = {int(e) for e in picked[:n_del]}
    changed = {int(e) for e in picked[n_del:]}
    _link_tree(base_root, root, deleted | changed)
    episodes = {ep: dict(base[ep]) for ep in ids if ep not in deleted}
    for ep in sorted(changed):
        episodes[ep] = new_episode(rng, root, ep, frames, None)
    first_new = ids[-1] + 1
    new_ids = list(range(first_new, first_new + n_new))
    defects = pick_defects(rng, new_ids, 0.05)
    for ep in new_ids:
        episodes[ep] = new_episode(rng, root, ep, frames, defects.get(ep))
    write_meta(root, episodes)
    statuses = {
        "NEW": n_new,
        "CHANGED": n_chg,
        "DELETED": n_del,
        "UNCHANGED": len(ids) - n_del - n_chg,
    }
    return episodes, statuses


# --- web documents -----------------------------------------------------------

_WORDS = (
    "the of and to in is that for it as was with be by on not he this are or "
    "his from at which but have an they you were her she there been one all "
    "we their has would when if so no will more about up out who them some "
    "robot arm cube box camera frame episode gripper motion policy learning "
    "data model training sample dataset signal sensor control trajectory "
    "human demonstration table task place pick reach grasp lift move joint "
    "state action value noise filter batch window scene object light color "
    "river garden market winter summer music history science village letter "
    "morning evening journey kitchen window bridge forest mountain harbor"
).split()


def document_text(rng: np.random.Generator, doc_id: int) -> str:
    """Prose-like text: sentences of common words, some with an email or
    a phone number so PII redaction has work."""
    words = np.array(_WORDS)
    sentences = []
    for _ in range(int(rng.integers(6, 16))):
        s = list(words[rng.integers(0, len(words), size=int(rng.integers(8, 18)))])
        s[0] = s[0].capitalize()
        sentences.append(" ".join(s) + ".")
    r = rng.random()
    if r < 0.1:
        sentences.append(f"Write to user{doc_id}@example.org for the data.")
    elif r < 0.2:
        sentences.append(f"Call 555-{doc_id % 900 + 100:03d}-{doc_id % 10000:04d} today.")
    return " ".join(sentences)


def documents_table(path: str, seed: int, n_docs: int, dup_share: float = 0.05) -> None:
    """``documents.parquet`` (doc_id, text) with a share of exact
    duplicate texts, so the curation dedup stage has work."""
    rng = np.random.default_rng(seed)
    texts = [document_text(rng, i) for i in range(n_docs)]
    n_dup = int(n_docs * dup_share)
    for i, j in zip(rng.choice(n_docs, n_dup, replace=False), rng.integers(0, n_docs, n_dup)):
        texts[int(i)] = texts[int(j)]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        pa.table({"doc_id": pa.array(np.arange(n_docs, dtype=np.int64)), "text": texts}),
        path,
    )


def warc_corpus(
    out_dir: str,
    docs_path: str,
    seed: int,
    replicas: int,
    n_files: int,
    not_found_share: float = 0.02,
) -> int:
    """Gzipped WARC/1.0 files: each document of ``docs_path`` becomes
    ``replicas`` HTTP-response records with distinct URLs, one gzip
    member per record, spread round-robin over ``n_files`` files. A
    seeded share of records answers 404. Returns the number of 200
    records, which is what ``cli ingest-warc`` should emit."""
    import gzip

    rng = np.random.default_rng(seed)
    docs = pq.read_table(docs_path)
    ids = docs.column("doc_id").to_pylist()
    texts = docs.column("text").to_pylist()
    os.makedirs(out_dir, exist_ok=True)
    handles = [
        open(os.path.join(out_dir, f"seg{i:04d}.warc.gz"), "wb") for i in range(n_files)
    ]
    not_found = rng.random(len(ids) * replicas) < not_found_share
    try:
        for d, (doc_id, text) in enumerate(zip(ids, texts)):
            for rep in range(replicas):
                page = d * replicas + rep
                body = (
                    f"<html><head><title>Page {doc_id}-{rep}</title></head><body>"
                    f'<nav><a href="/">home</a> <a href="/about">about</a></nav>'
                    f"<p>{text}</p></body></html>"
                ).encode()
                status = b"404 Not Found" if not_found[page] else b"200 OK"
                block = (
                    b"HTTP/1.1 " + status + b"\r\n"
                    b"Content-Type: text/html; charset=utf-8\r\n\r\n" + body
                )
                head = (
                    "WARC/1.0\r\n"
                    "WARC-Type: response\r\n"
                    f"WARC-Record-ID: <urn:perfbench:{page}>\r\n"
                    "WARC-Date: 2026-01-01T00:00:00Z\r\n"
                    f"WARC-Target-URI: http://bench.test/{doc_id}/{rep}\r\n"
                    "Content-Type: application/http; msgtype=response\r\n"
                    f"Content-Length: {len(block)}\r\n\r\n"
                ).encode()
                handles[page % n_files].write(
                    gzip.compress(head + block + b"\r\n\r\n", compresslevel=1)
                )
    finally:
        for h in handles:
            h.close()
    return int((~not_found).sum())


def reset_dir(path: str) -> str:
    if os.path.lexists(path):
        shutil.rmtree(path)
    os.makedirs(path)
    return path
