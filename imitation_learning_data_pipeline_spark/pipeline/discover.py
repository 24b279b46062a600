"""Discover stage: incremental file-system scan + fingerprint diff.

Reference: steps/discover_refactored.py:79-170 — a thread-pool loop that
stats/hashes each file, then Polars joins. Here the listing itself is a
DataFrame (`binaryFile` source), fingerprinting is a JVM-side sha2 over
head+tail samples, and the diff/delete/orphan logic is two full outer
joins — one declarative plan, no loops.

Each source is read once per plan: one binaryFile scan of the episode
parquets (listing snapshot, lengths and fingerprints), one metadata-only
scan of the videos aggregated per episode, and one join against the
prior manifest.

Scale notes: `binaryFile` prunes the `content` column when unselected, so
the video listing never reads bytes; fingerprints sample head+tail 64 KiB
(reference fp/fingerprint.py:20-35) rather than full files; at cloud
scale the fingerprint column would instead come free from the object
store (ETag) — the diff plan below is unchanged either way.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SAMPLE_BYTES = 65536  # head+tail sample size (core/constants.py:1)

# Statuses the reference's discover returns as its actionable delta
# (discover_refactored.py:166-172): everything except UNCHANGED. PENDING
# never occurs in batch discover here (subsumed by the file-stream's
# later-micro-batch pickup, SURVEY §2.9-3) but is kept for parity.
ACTIONABLE_STATUSES = [
    "NEW", "CHANGED", "MISSING_SIDE", "DELETED", "ORPHAN_VIDEO", "PENDING", "ERROR",
]

_EP_RE = r"episode_(\d+)\.(parquet|mp4)$"
_CHUNK_RE = r"(chunk-\d+)"
_KEYS = ["episode_index", "chunk"]


def _parse_path(df: DataFrame) -> DataFrame:
    return df.withColumns(
        {
            "episode_index": F.regexp_extract("path", _EP_RE, 1).cast("long"),
            "chunk": F.regexp_extract("path", _CHUNK_RE, 1),
        }
    )


def _listed_files(scan: DataFrame) -> tuple[list[str], list[int]]:
    """Paths and lengths of every file in a file-source scan's index.

    Spark lists a file source when the DataFrame is created, and every
    execution of that DataFrame reads exactly the listed files — so this
    is the scan's own listing snapshot, read at plan time with no Spark
    job. A path is Hadoop's ``Path.toString()``, the string binaryFile
    puts in its ``path`` column.
    """
    files = scan._jdf.queryExecution().analyzed().relation().location().allFiles()
    it = files.iterator()
    paths, lengths = [], []
    while it.hasNext():
        status = it.next()
        paths.append(status.getPath().toString())
        lengths.append(status.getLen())
    return paths, lengths


def list_episode_parquets(
    spark: SparkSession,
    root: str,
    since: str | None = None,
    full_hash: bool = False,
) -> DataFrame:
    """Distributed listing + head/tail fingerprint of episode parquets.

    ``since`` maps the reference's --since mtime cutoff
    (discover_refactored.py:92-96) to the source's modifiedAfter option.

    ERROR semantics (reference discover_refactored.py:62-76: fingerprint
    failure → ERROR row, never a crashed run): the listing is fixed when
    this function runs, mirroring the reference's materialized glob
    before fingerprinting (discover_refactored.py:88-97). The content
    read tolerates files that vanish or turn unreadable after that
    (ignoreMissingFiles/ignoreCorruptFiles), and a listed file with no
    surviving fingerprint row comes back with fingerprint NULL — the
    discover() status CASE maps that to ERROR. One binaryFile scan
    gives both: its plan-time file index is the listing, and its rows
    are the fingerprints.
    """
    # Missing/corrupt tolerance is scoped to THIS read via the generic
    # file-source options — never set session-wide, which would silently
    # mask data loss in every later read of the session
    # (validate/stats/align, other contract queries).
    reader = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "episode_*.parquet")
        .option("ignoreMissingFiles", "true")
        .option("ignoreCorruptFiles", "true")
    )
    if since:
        reader = reader.option("modifiedAfter", since)
    scan = reader.load(f"{root}/data/*")

    paths, lengths = _listed_files(scan)
    # An Arrow table becomes a driver-side LocalRelation: no Python
    # worker, and nothing to recompute when the plan re-reads it.
    files = pa.table(
        {"path": pa.array(paths, pa.string()), "length": pa.array(lengths, pa.int64())}
    )
    listing = _parse_path(spark.createDataFrame(files)).select(
        *_KEYS,
        F.col("path").alias("parquet_uri"),
        F.col("length").alias("bytes_parquet"),
    )

    if full_hash:
        # --full-hash opt-in (scripts/neura.py:33-34, fingerprint.py:34):
        # hash every byte instead of the head+tail sample.
        fp = F.sha2(F.col("content"), 256)
        algo = "sha256-full"
    else:
        fp = F.sha2(
            F.concat(
                F.substring(F.col("content"), 1, SAMPLE_BYTES),
                F.substring(F.col("content"), -SAMPLE_BYTES, SAMPLE_BYTES),
                F.col("length").cast("string").cast("binary"),
            ),
            256,
        )
        algo = "sha256-head-tail"
    fingerprints = scan.select(
        F.col("path").alias("parquet_uri"),
        fp.alias("fingerprint"),
        F.lit(algo).alias("fingerprint_algo"),
    )
    return listing.join(fingerprints, "parquet_uri", "left").select(
        *_KEYS, "parquet_uri", "bytes_parquet", "fingerprint", "fingerprint_algo"
    )


def list_videos(spark: SparkSession, root: str) -> DataFrame:
    """Metadata-only listing of camera mp4s (content column pruned)."""
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "episode_*.mp4")
        .load(f"{root}/videos/*/*")
    )
    cam = F.regexp_extract("path", r"/(cam_[a-z]+)/", 1)
    return _parse_path(raw).select(
        *_KEYS, cam.alias("camera"), F.col("path").alias("video_uri")
    )


def _videos_per_episode(spark: SparkSession, root: str) -> DataFrame:
    """One row per (episode_index, chunk) that has any video: its front
    and wrist URIs, and the least URI over every camera."""

    def camera_uri(camera: str):
        return F.max(F.when(F.col("camera") == camera, F.col("video_uri")))

    return (
        list_videos(spark, root)
        .groupBy(*_KEYS)
        .agg(
            camera_uri("cam_front").alias("video_front_uri"),
            camera_uri("cam_wrist").alias("video_wrist_uri"),
            F.min("video_uri").alias("any_video_uri"),
        )
    )


def discover(
    spark: SparkSession,
    root: str,
    prev_manifest: DataFrame | None = None,
    since: str | None = None,
    full_hash: bool = False,
) -> DataFrame:
    """Build the episode manifest with status lifecycle.

    Status semantics (normalized to plain values everywhere — the
    reference's ``str(Enum)`` inconsistency is deliberately fixed, SURVEY
    §8.1): NEW (no previous row), UNCHANGED (fingerprint equal), CHANGED
    (fingerprint differs), MISSING_SIDE (camera video absent), DELETED
    (in previous manifest, gone now), ORPHAN_VIDEO (video without
    parquet). The reference's CHANGED enum member was unreachable
    (SURVEY §8.2); here it is real.

    One row per listed parquet, one per video-only key, and one DELETED
    row per previous row whose key has no listed parquet: a previous
    ORPHAN_VIDEO key thus yields a DELETED row and a new ORPHAN_VIDEO
    row.
    """
    episodes = list_episode_parquets(spark, root, since, full_hash)
    videos = _videos_per_episode(spark, root)

    listed = F.col("parquet_uri").isNotNull()
    front, wrist = F.col("video_front_uri"), F.col("video_wrist_uri")
    # An ORPHAN_VIDEO row (a video key with no listed parquet) names its
    # least video URI and leaves every other column NULL.
    found = episodes.join(videos, _KEYS, "full").select(
        *_KEYS,
        "parquet_uri",
        "bytes_parquet",
        "fingerprint",
        "fingerprint_algo",
        F.when(listed, front)
        .otherwise(F.col("any_video_uri"))
        .alias("video_front_uri"),
        F.when(listed, wrist).alias("video_wrist_uri"),
        F.when(listed, front.isNotNull()).alias("exists_front"),
        F.when(listed, wrist.isNotNull()).alias("exists_wrist"),
        F.when(listed, F.current_timestamp()).alias("discovered_at"),
        F.when(~listed, "ORPHAN_VIDEO")
        # ERROR next: a listed file whose fingerprint read failed
        # (discover_refactored.py:62-76 → kept by the diff CASE
        # :117-122) outranks every other classification.
        .when(F.col("fingerprint").isNull(), "ERROR")
        .when(front.isNull() | wrist.isNull(), "MISSING_SIDE")
        .otherwise("NEW")
        .alias("status"),
    )
    if prev_manifest is None:
        return found

    # One full outer join gives both the diff of listed keys and the
    # DELETED tombstones: previous rows matching no listed parquet come
    # back with every current column NULL. The previous manifest is the
    # LEFT side, so for a key with both a tombstone and a current orphan
    # the sort-merge join emits the DELETED row first.
    prev = prev_manifest.select(
        *[F.col(k).alias(f"prev_{k}") for k in _KEYS],
        F.col("fingerprint").alias("prev_fingerprint"),
    )
    on = [F.col(f"prev_{k}") == found[k] for k in _KEYS] + [listed]
    status = F.col("status")
    return prev.join(found, on, "full").select(
        *[F.coalesce(found[k], F.col(f"prev_{k}")).alias(k) for k in _KEYS],
        *[c for c in found.columns if c not in (*_KEYS, "status")],
        F.when(status.isNull(), "DELETED")
        .when(status != "NEW", status)
        .when(F.col("prev_fingerprint").isNull(), "NEW")
        .when(F.col("fingerprint") == F.col("prev_fingerprint"), "UNCHANGED")
        .otherwise("CHANGED")
        .alias("status"),
    )


def discover_delta(manifest: DataFrame) -> DataFrame:
    """Actionable delta (reference returns status-filtered rows,
    discover_refactored.py:166-170)."""
    return manifest.filter(F.col("status").isin(ACTIONABLE_STATUSES))


def upsert_manifest(manifest: DataFrame, path: str) -> list[str]:
    """Chunk-partitioned manifest writer that rewrites ONLY touched
    chunks (r4 verdict item 8: the batch manifest writer was
    recompute-style — every run rewrote every row, matching the
    reference's full recompute, discover_refactored.py:159-164; at
    100 TB of episodes that rewrite dominates the stage).

    A chunk is touched iff it contains any actionable row (NEW / CHANGED
    / MISSING_SIDE / DELETED / ORPHAN_VIDEO / PENDING / ERROR). Touched
    chunks are written whole (all their rows, UNCHANGED included) via
    DYNAMIC partition overwrite, which replaces exactly the partitions
    present in the written frame and leaves every other chunk's files
    untouched on disk. Documented trade: rows of untouched chunks keep
    their previously-written status/discovered_at (e.g. a chunk that was
    all-NEW last run and is all-UNCHANGED now is NOT rewritten to say
    so) — the standard incremental-manifest contract; a reader wanting
    fresh statuses consults discover()'s return, not the store.

    Returns the sorted list of chunk values rewritten (empty → no IO
    beyond the read of the touched-chunk set).
    """
    touched = (
        manifest.filter(F.col("status").isin(ACTIONABLE_STATUSES))
        .select("chunk")
        .distinct()
    )
    chunks = sorted(r.chunk for r in touched.collect() if r.chunk is not None)
    if not chunks:
        return []
    (
        manifest.filter(F.col("chunk").isin(chunks))
        .write.partitionBy("chunk")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(path)
    )
    return chunks
