"""Streaming CDX-driven ingest — plan-then-fetch, continuously.

Common Crawl publishes a crawl's capture INDEX shard by shard while
the crawl runs; a pipeline that waits for the full index re-plans the
world per arrival, and one that re-reads landed WARC files ignores the
index's whole point. This module drains index shards as they land and
ingests ONLY the captures each new shard names:

- ``text`` readStream over the index landing dir (checkpointed file
  offsets — each ``.cdxj(.gz)`` shard is planned EXACTLY once across
  restarts),
- foreachBatch: parse lines with the SAME `sources/cdx.py` expressions
  as the batch reader → status/mime filters → fetch manifest →
  `read_warc_ranges` (seek/read/gunzip just those members) →
  `plans/web.py::ingest_records`, the records-frame ingest `cli
  ingest-warc --ranges` runs — every stage the batch verbs use, no fork,
- sink: documents parquet partitioned by ``ingest_batch`` with dynamic
  partition overwrite (an at-least-once replay REPLACES its own
  partition) — the repo's standard effectively-exactly-once story.

Cross-arrival URL/content dedup is the persisted dedup store's job
(same delegation as `warc_stream.py`): holding all-time URL state in
the ingest would grow with the crawl. Within one micro-batch,
``dedup_url`` applies as in the batch path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def cdx_landing_stream(
    spark: SparkSession, landing_dir: str, max_files_per_trigger: int = 16
) -> DataFrame:
    """Streaming (value) lines over an index landing dir — new
    .cdxj(.gz) shards only, per the checkpointed file-source offsets."""
    return (
        spark.readStream.format("text")
        .option("pathGlobFilter", "*.cdxj*")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(landing_dir)
    )


def run_incremental_cdx_ingest(
    spark: SparkSession,
    index_dir: str,
    docs_path: str,
    checkpoint: str,
    base_dir: str | None = None,
    status: int | None = 200,
    mime: str | None = "text/html",
    content_type: str | None = "text/html",
    dedup_url: bool = False,
    normalize_urls: bool = False,
    max_files_per_trigger: int = 16,
    opener=None,
) -> None:
    """Drain NEW index shards into ``docs_path`` (one ``ingest_batch=N``
    partition per micro-batch) and return; call again as shards land.
    ``status``/``mime`` filter the index BEFORE any WARC byte is read
    (the selectivity is the whole economy); ``base_dir`` resolves
    relative manifest filenames against the local crawl mirror;
    ``content_type``/``dedup_url``/``normalize_urls`` behave exactly as
    in `cli ingest-warc`; ``opener`` (r15) is `read_warc_ranges`'s
    pluggable ``path -> binary file-like`` seam for object-store
    deployments. Runs with Trigger.availableNow and blocks
    until drained."""
    from ..plans.web import ingest_records
    from ..sources.cdx import cdxj_columns
    from ..sources.warc import read_warc_ranges

    stream = cdx_landing_stream(spark, index_dir, max_files_per_trigger)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        cols = cdxj_columns(F.col("value"))
        idx = batch_df.filter(F.length(F.trim("value")) > 0).select(
            cols["status"].alias("status"),
            cols["mime"].alias("mime"),
            cols["filename"].alias("filename"),
            cols["offset"].alias("offset"),
            cols["length"].alias("length"),
        )
        if status is not None:
            idx = idx.filter(F.col("status") == status)
        if mime:
            idx = idx.filter(F.lower(F.col("mime")).startswith(mime.lower()))
        records = read_warc_ranges(
            spark, idx.select("filename", "offset", "length"),
            base_dir=base_dir, opener=opener,
        )
        docs = ingest_records(
            records,
            content_type=content_type,
            dedup_url=dedup_url,
            normalize_urls=normalize_urls,
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
