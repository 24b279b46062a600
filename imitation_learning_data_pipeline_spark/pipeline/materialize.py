"""Materialize stage: deterministic split + Hive-partitioned layout +
dataset index.

Reference: steps/materialize_refactored.py:57-154 — a serial per-file
loop computing a BLAKE2b split then copying files. Here:
  split    — md5-based per-key assignment (functions/hashing.split_assign;
             same determinism contract as :16-26, NOT randomSplit)
  layout   — df.write.partitionBy("split", "chunk") with zstd — the exact
             built-in equivalent of the split=/chunk= directory scheme
             (:103-111, README.md:135-142)
  index    — per-(split, chunk, episode) row counts as a DataFrame
             (:130-137)
Video placement (:29-47, symlink/copy modes) is manifest-only here: the
index carries URIs. At 100 TB copying assets through the engine is an
anti-pattern; the Spark-idiomatic answer is paths + a thin driver-side
linker (provided as ``link_videos`` for local parity).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import split_assign
from .fsio import commit_frame

DEFAULT_FRACS = (0.8, 0.1, 0.1)  # scripts/neura.py:167-171
DEFAULT_SEED = "42"


def assign_split(
    frames: DataFrame,
    fracs: tuple[float, float, float] = DEFAULT_FRACS,
    seed: str = DEFAULT_SEED,
) -> DataFrame:
    train, val, test = fracs
    return frames.withColumn(
        "split", split_assign("episode_index", train, val, test, seed)
    )


def materialize(
    frames: DataFrame,
    out_dir: str,
    fracs: tuple[float, float, float] = DEFAULT_FRACS,
    seed: str = DEFAULT_SEED,
) -> DataFrame:
    """Write the split/chunk-partitioned dataset; return the index.

    Partition count discipline: the write is repartitioned by the
    partition columns so each Hive partition is written by one task
    (no small-file explosion: without this, every task writes a file
    into every partition directory).
    """
    assigned = assign_split(frames, fracs, seed)
    if "chunk" not in assigned.columns:
        assigned = assigned.withColumn(
            "chunk",
            F.format_string(
                "chunk-%03d", (F.col("episode_index") / 1000).cast("int")
            ),
        )
    data = commit_frame(
        assigned.repartition("split", "chunk"),
        f"{out_dir}/data",
        partition_by=("split", "chunk"),
        compression="zstd",
    )
    # Index from the WRITTEN dataset, not a second run of the upstream
    # plan: `assigned` is lazy, so aggregating it re-executes the whole
    # upstream chain (align transform + scan). The read-back is a
    # partition-pruned scan of episode_index only, and it counts the
    # rows actually on disk. Returning a read of the written index keeps
    # the returned frame O(episodes) to recompute however often callers
    # aggregate it.
    index = data.groupBy("split", "chunk", "episode_index").agg(
        F.count("*").alias("rows")
    )
    return commit_frame(index, f"{out_dir}/index")


def link_pairs(index: DataFrame, video_root: str, out_dir: str) -> DataFrame:
    """Distributed (split, chunk, episode, camera) → (src, dst) pairs.

    The per-episode loop of the reference (:113-128) as a projection —
    the index never leaves the executors.
    """
    ep_mp4 = F.format_string("episode_%06d.mp4", F.col("episode_index").cast("int"))
    return index.select(
        "split",
        "chunk",
        "episode_index",
        F.explode(F.array(F.lit("cam_front"), F.lit("cam_wrist"))).alias("camera"),
    ).select(
        F.concat_ws("/", F.lit(video_root), "chunk", "camera", ep_mp4).alias("src"),
        F.concat_ws(
            "/",
            F.lit(out_dir),
            F.concat(F.lit("split="), "split"),
            F.concat(F.lit("chunk="), "chunk"),
            "camera",
            ep_mp4,
        ).alias("dst"),
    )


def _place_one(src: str, dst: str, mode: str) -> bool:
    if not os.path.exists(src):
        return False
    if mode != "manifest":
        os.makedirs(os.path.dirname(dst), exist_ok=True)
    if mode == "symlink":
        if not os.path.lexists(dst):
            os.symlink(src, dst)
    elif mode == "hardlink":
        if not os.path.exists(dst):
            os.link(src, dst)
    elif mode == "copy":
        shutil.copy2(src, dst)
    return True


def place_videos(
    index: DataFrame, video_root: str, out_dir: str, mode: str = "manifest"
) -> int:
    """Distributed video placement; returns the number of placed (or, in
    manifest mode, placeable) videos.

    Replaces the CLI's driver-side ``index.collect()`` loop: pairs are
    computed and placed per-partition on executors (idempotent link ops,
    so task retries are safe), and only the COUNT comes back to the
    driver. Requires the destination filesystem to be visible from
    executors (true for local mode and any shared/cloud FS).
    """
    import pandas as pd

    pairs = link_pairs(index, video_root, out_dir)

    def run(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {"placed": [_place_one(s, d, mode) for s, d in zip(pdf.src, pdf.dst)]}
            )

    placed = pairs.mapInPandas(run, "placed boolean")
    return placed.filter(F.col("placed")).count()


def link_videos(
    index_rows: list,
    video_root: str,
    out_dir: str,
    mode: str = "manifest",
) -> list[str]:
    """Driver-side video placement (reference :29-47,113-128).

    mode ∈ {symlink, hardlink, copy, manifest}; manifest (default) places
    nothing and returns the would-be pairs — the scale-appropriate mode.
    """
    placed = []
    for row in index_rows:
        for cam in ("cam_front", "cam_wrist"):
            src = os.path.join(
                video_root, row.chunk, cam, f"episode_{row.episode_index:06d}.mp4"
            )
            dst_dir = os.path.join(out_dir, f"split={row.split}", f"chunk={row.chunk}", cam)
            dst = os.path.join(dst_dir, f"episode_{row.episode_index:06d}.mp4")
            if not os.path.exists(src):
                continue
            if mode != "manifest":
                os.makedirs(dst_dir, exist_ok=True)
            if mode == "symlink":
                if not os.path.lexists(dst):
                    os.symlink(src, dst)
            elif mode == "hardlink":
                if not os.path.exists(dst):
                    os.link(src, dst)
            elif mode == "copy":
                shutil.copy2(src, dst)
            placed.append(f"{src} -> {dst}")
    return placed
