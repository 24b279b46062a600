"""Streaming incremental discover: the Auto-Loader-shaped file ingest.

Reference mapping (SURVEY §2.9): the reference re-runs `discover` and
diffs fingerprints against the previous manifest
(discover_refactored.py:115-122); its --since cutoff is a hand-rolled
source offset; PENDING is a sleep-loop for in-flight files. Structured
Streaming's file source subsumes all three: exactly-once file tracking
via checkpointed offsets (no mtime cutoffs, no re-fingerprinting of seen
files), and in-flight files simply arrive in a later micro-batch.

Shape: `binaryFile` readStream over the episode tree → per-file
fingerprint rows → `foreachBatch` merge into the manifest table (the
Delta MERGE pattern without requiring Delta — each batch folds NEW /
CHANGED rows by (chunk, episode_index) key, keep-latest semantics).

At cluster scale the same code runs with a real trigger + cloud
checkpoint; locally the driver/test path uses Trigger.availableNow and a
parquet manifest directory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline.discover import SAMPLE_BYTES, _parse_path
from ..pipeline.fsio import _fs, commit_frame, recover_frame


def episode_file_stream(spark: SparkSession, root: str) -> DataFrame:
    """Streaming listing+fingerprint of episode parquets (new files only,
    per the checkpointed file-source offsets)."""
    raw = (
        spark.readStream.format("binaryFile")
        # streaming sources require an explicit schema; this is the
        # binaryFile source's fixed one
        .schema(
            "path string, modificationTime timestamp, length long, content binary"
        )
        .option("pathGlobFilter", "episode_*.parquet")
        .option("maxFilesPerTrigger", 64)
        .load(f"{root}/data/*")
    )
    fp = F.sha2(
        F.concat(
            F.substring(F.col("content"), 1, SAMPLE_BYTES),
            F.substring(F.col("content"), -SAMPLE_BYTES, SAMPLE_BYTES),
            F.col("length").cast("string").cast("binary"),
        ),
        256,
    )
    return _parse_path(raw).select(
        "episode_index",
        "chunk",
        F.col("path").alias("parquet_uri"),
        F.col("length").alias("bytes_parquet"),
        fp.alias("fingerprint"),
        F.current_timestamp().alias("discovered_at"),
    )


def run_discover_stream(
    spark: SparkSession,
    root: str,
    manifest_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Drain all currently-available files into the manifest (availableNow),
    merging each micro-batch by key with keep-latest-fingerprint semantics;
    returns the resulting manifest DataFrame.

    Statuses: first sighting → NEW; a key seen again with a different
    fingerprint → CHANGED. A key seen again with the same fingerprint
    keeps its prior row, so a replayed batch (one whose swap the next
    run's recovery committed) is a no-op. NOTE the file source tracks
    seen files BY PATH — an in-place rewrite is never re-emitted, so in-place
    CHANGED detection stays with the batch `pipeline.discover` diff: the
    deployment shape is this stream for continuous exactly-once NEW
    ingest plus a periodic batch reconciliation pass that feeds the
    streamed manifest in as prev_manifest (tested in
    tests/test_discover_stream.py).
    """
    keys = ["chunk", "episode_index"]
    # The crash-safe manifest commit `cli discover` uses. A batch that
    # crashed mid-swap ended its run, so finishing it (journal present)
    # or discarding its staging here comes before any batch reads the
    # prior manifest.
    recover_frame(spark, manifest_dir)
    fs, jmanifest = _fs(spark, manifest_dir)

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        new = batch.withColumn("status", F.lit("NEW"))
        if fs.exists(jmanifest):
            prev = s.read.parquet(manifest_dir)
            prev_fp = prev.select(*keys, F.col("fingerprint").alias("prev_fp"))
            merged_new = (
                new.join(prev_fp, keys, "left")
                .filter(~F.col("fingerprint").eqNullSafe(F.col("prev_fp")))
                .withColumn(
                    "status",
                    F.when(F.col("prev_fp").isNull(), "NEW").otherwise("CHANGED"),
                )
                .drop("prev_fp")
            )
            keep_prev = prev.join(merged_new.select(*keys), keys, "left_anti")
            out = keep_prev.unionByName(merged_new)
        else:
            out = new
        commit_frame(out, manifest_dir)

    q = (
        episode_file_stream(spark, root)
        .writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(manifest_dir)
