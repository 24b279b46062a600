from .readers import TABLE_SCHEMAS, load_table, register_views

__all__ = [
    "TABLE_SCHEMAS",
    "load_table",
    "register_views",
    # web-ingestion sources live in submodules and import Spark-heavy
    # deps lazily — exported by name for API discoverability:
    # sources.warc: read_warc, warc_files, read_warc_ranges
    # sources.cdx: read_cdxj, cdxj_columns, surt_host
]
