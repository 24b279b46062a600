"""Web-ingestion queries: HTML extraction + WARC, oracle-checked.

The extraction operator (`operators/html_text.py`) and the WARC source
(`sources/warc.py`) are host-I/O / UDF surfaces a DuckDB oracle cannot
drive directly — but the EXTRACTOR's semantics are checkable end to
end by synthesizing HTML from the documents table with a KNOWN
template in-plan (JVM `concat`, no UDF on the build side), running the
real Arrow-batched extractor over it, and predicting every output
column with SQL string arithmetic. A hash match here pins: subtree
skipping (`<script>`), title capture, anchor counting and link-text
mass, block-tag line breaking, whitespace normalization, and the
quantized link-density ratio — the whole visible contract of the
extraction stage, on well-formed input. (Malformed/adversarial input
is pytest's job: tests/test_round12_ops.py::TestHtmlText.)
"""

from __future__ import annotations

import re
from functools import partial

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import oracle_quantize
from ..operators.html_text import extract_html_text
from ..session import ensure_utc
from ..sources import load_table
from .registry import register

# the synthetic page: title + nav (2 links) + a skipped script + body
_NAV_TEXT_CHARS = len("home about")  # first extracted line
_LINK_TEXT_CHARS = len("home") + len("about")


@register(
    "web_html_extract",
    oracle=f"""
WITH t AS (
  SELECT doc_id, trim(regexp_replace(text, ' +', ' ', 'g')) AS c
  FROM documents
  WHERE length(trim(text)) > 0
)
SELECT doc_id,
       'Doc ' || doc_id AS title,
       'home about' || chr(10) || c AS text,
       2 AS n_links,
       CAST({_NAV_TEXT_CHARS} + 1 + length(c) AS INT) AS text_chars,
       {oracle_quantize(
           f"{_LINK_TEXT_CHARS} * 1.0 / ({_NAV_TEXT_CHARS} + 1 + length(c))", 4
       )} AS link_density
FROM t
""",
)
def web_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize one HTML page per document (deterministic template),
    extract with the real operator, return the extraction columns the
    oracle predicts from the raw text."""
    ensure_utc(spark)
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.length(F.trim("text")) > 0)
    )
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit("<html><head><title>Doc "),
            F.col("doc_id").cast("string"),
            F.lit(
                '</title></head><body><nav><a href="/">home</a> '
                '<a href="/about">about</a></nav>'
                "<script>var x = 1;</script><p>"
            ),
            F.col("text"),
            F.lit("</p></body></html>"),
        ).alias("html"),
    )
    out = extract_html_text(pages, html_col="html", id_col="doc_id")
    return out.select(
        "doc_id",
        "title",
        "text",
        "n_links",
        F.col("text_chars").cast("int").alias("text_chars"),
        "link_density",
    )


# --- WARC ingest bench surface (VERDICT r12 #3) ------------------------------
#
# The WARC path had pytest coverage and the oracle row above, but no
# bench presence — parse → extract → URL dedup is the most Python-heavy
# stage in the repo and its throughput was unmeasured at sf0.1 scale.
# `build_warc_corpus` materializes a REAL .warc.gz corpus (proper
# WARC/1.0 + HTTP framing, one gzip member per record — the Common
# Crawl layout read_warc documents) from the documents table,
# deterministic and disk-cached; `web_ingest_warc` runs the same plan
# `cli ingest-warc` runs (shared `ingest_warc_plan`) over it.

_WARC_REPLICAS = 20  # pages per source document (URL dup factor 2)
_WARC_FILES = 32  # ≥ local core count: per-FILE parallelism saturates


def _page_html(doc_id: int, rep: int, text: str) -> bytes:
    return (
        f"<html><head><title>Page {doc_id}-{rep}</title></head>"
        f'<body><nav><a href="/">home</a> <a href="/about">about</a>'
        f"</nav><script>var x={rep};</script><p>{text}</p>"
        f"</body></html>"
    ).encode("utf-8", "replace")


def build_warc_corpus(
    sf_dir: str,
    out_root: str | None = None,
    replicas: int = _WARC_REPLICAS,
    n_files: int = _WARC_FILES,
    kind: str = "response",
    index: bool = False,
) -> str:
    """Materialize a deterministic .warc.gz corpus from ``sf_dir``'s
    documents table (driver-side, pure stdlib — the GENERATION is not
    part of the measured plan and must not contribute Spark task CPU).
    Each document becomes ``replicas`` HTTP-response records; every
    URL appears twice (the dedup stage has real work); ~2% of records
    are non-200 (the status filter has real work). Cached on disk via
    a completion marker — repeat bench runs skip straight to the read.
    Returns the corpus directory. The cache key (marker content)
    encodes the source parquet's identity (path, mtime, size) AND the
    shape parameters — a regenerated documents table or different
    (replicas, n_files) rebuilds instead of silently reusing a corpus
    that no longer matches what the bench claims to measure (r13
    review). ``kind="conversion"`` (r14) writes a WET-shaped corpus
    instead: conversion records whose payload is the document text
    directly (text/plain, no HTTP framing) — the `web_ingest_wet`
    bench input; cached under its own directory tag. ``index=True``
    (r14) also writes ``index.cdxj`` — one CDXJ capture line per
    record with the COMPRESSED member (offset, length), so tests and
    demos can run the full plan-then-fetch loop (`read_cdxj` →
    `cli cdx-plan` → `read_warc_ranges`) against a generated crawl.
    Each index line additionally carries ``rec_offset`` (r16) — the
    record's DECOMPRESSED stream offset, i.e. exactly the
    ``record_offset`` a whole-file ``read_warc`` parse assigns — so an
    index-planned ingest can emit doc ids byte-identical to the
    whole-file path (``ingest_warc_indexed``; real-crawl CDX has no
    such field, which is why that plan requires it explicitly)."""
    import gzip
    import json as _json
    import os

    import duckdb

    if kind not in ("response", "conversion"):
        raise ValueError(f"build_warc_corpus: unknown kind {kind!r}")
    out_root = out_root or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", "..", ".bench_warc"
    )
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    if kind == "conversion":
        tag += "-wet"
    out_dir = os.path.normpath(os.path.join(out_root, tag))
    marker = os.path.join(out_dir, "_COMPLETE")
    src = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(src)
    key = {
        "src": os.path.abspath(src),
        "src_mtime_ns": st.st_mtime_ns,
        "src_bytes": st.st_size,
        "replicas": replicas,
        "n_files": n_files,
        "kind": kind,
        "index": index,
    }
    if os.path.exists(marker):
        try:
            if _json.load(open(marker)) == key:
                return out_dir
        except (ValueError, OSError):
            pass
        # stale/mismatched corpus: rebuild from scratch (rmtree, not
        # per-entry os.remove — a stray subdirectory from a crashed run
        # would raise IsADirectoryError and abort the bench; ADVICE r13)
        import shutil

        shutil.rmtree(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    rows = duckdb.sql(
        "SELECT doc_id, text FROM "
        f"'{os.path.join(sf_dir, 'documents.parquet')}' "
        "WHERE length(trim(text)) > 0 ORDER BY doc_id"
    ).fetchall()
    handles = [
        open(os.path.join(out_dir, f"seg{i:04d}.warc.gz.tmp"), "wb")
        for i in range(n_files)
    ]
    positions = [0] * n_files
    # decompressed stream position per file — matches the running
    # `offset` parse_warc_stream computes (each record's bytes include
    # its trailing CRLFCRLF, consumed as inter-record padding there)
    rec_positions = [0] * n_files
    index_lines: list[str] = []
    try:
        for doc_id, text in rows:
            for rep in range(replicas):
                page_id = int(doc_id) * replicas + rep
                # URL dup factor 2: reps 2k and 2k+1 share a URL
                url = f"http://bench.test/{doc_id}/{rep // 2}"
                if kind == "conversion":
                    # WET shape: the payload IS the text, no HTTP
                    block = f"Page {doc_id}-{rep}\n{text}".encode(
                        "utf-8", "replace"
                    )
                    rec_type, rec_ct = "conversion", "text/plain"
                else:
                    body = _page_html(int(doc_id), rep, text)
                    status = (
                        b"404 Not Found" if page_id % 50 == 0 else b"200 OK"
                    )
                    block = (
                        b"HTTP/1.1 " + status + b"\r\n"
                        b"Content-Type: text/html; charset=utf-8\r\n\r\n"
                        + body
                    )
                    rec_type = "response"
                    rec_ct = "application/http; msgtype=response"
                rec = (
                    "WARC/1.0\r\n"
                    f"WARC-Type: {rec_type}\r\n"
                    f"WARC-Record-ID: <urn:bench:{page_id}>\r\n"
                    "WARC-Date: 2026-01-01T00:00:00Z\r\n"
                    f"WARC-Target-URI: {url}\r\n"
                    f"Content-Type: {rec_ct}\r\n"
                    f"Content-Length: {len(block)}\r\n\r\n"
                ).encode() + block + b"\r\n\r\n"
                member = gzip.compress(rec, compresslevel=1)
                fidx = page_id % n_files
                handles[fidx].write(member)
                if index:
                    # CDXJ line per capture — the COMPRESSED member
                    # range, exactly what read_warc_ranges consumes
                    import hashlib

                    surt = f"test,bench)/{doc_id}/{rep // 2}"
                    ts = "20260101000000"
                    status = (
                        404 if kind == "response" and page_id % 50 == 0
                        else 200
                    )
                    payload_js = _json.dumps(
                        {
                            "url": url,
                            "mime": (
                                "text/html"
                                if kind == "response"
                                else "text/plain"
                            ),
                            "status": str(status),
                            "digest": "sha1:"
                            + hashlib.sha1(block).hexdigest(),
                            "length": str(len(member)),
                            "offset": str(positions[fidx]),
                            "filename": os.path.join(
                                out_dir, f"seg{fidx:04d}.warc.gz"
                            ),
                            # non-standard (generator-only) field: the
                            # DECOMPRESSED record offset, for doc-id
                            # parity with whole-file reads (r16)
                            "rec_offset": str(rec_positions[fidx]),
                        }
                    )
                    index_lines.append(f"{surt} {ts} {payload_js}")
                positions[fidx] += len(member)
                rec_positions[fidx] += len(rec)
    finally:
        for fh in handles:
            fh.close()
    for i in range(n_files):
        tmp = os.path.join(out_dir, f"seg{i:04d}.warc.gz.tmp")
        os.replace(tmp, os.path.join(out_dir, f"seg{i:04d}.warc.gz"))
    if index:
        with open(os.path.join(out_dir, "index.cdxj"), "w") as fh:
            fh.write("\n".join(index_lines) + "\n")
    with open(marker, "w") as fh:
        _json.dump(key, fh)
    return out_dir


def ingest_warc_plan(
    spark: SparkSession,
    input_glob: str,
    content_type: str | None = "text/html",
    max_link_density: float | None = None,
    dedup_url: bool = False,
    normalize_urls: bool = False,
    main_content: bool = False,
    main_content_lang: str | None = None,
    wet: bool = False,
) -> DataFrame:
    """The ingest-warc plan, shared verbatim by `cli ingest-warc` and
    the bench row: WARC records → record gate → extraction → JVM tail
    (doc_id/url projection, optional link-density gate, optional
    URL-level struct-max dedup: one hash exchange, no per-URL window
    sort). Doc ids are xxhash64(file, offset) — pure row functions,
    reproducible across runs.

    Two plan shapes, one result. Each crosses into Python ONCE per
    record (parse, gate and extract in one pass), and building either
    launches no Spark job:

    - index-planned (r16, :func:`ingest_warc_indexed`): URL dedup is
      on, no extraction-dependent gate is (``max_link_density``/
      ``main_content`` decide on columns only extraction produces), the
      content type is a bare media type, and a generator-written
      capture index covers the glob. Winners are chosen on index lines
      and fetched by member range, for BOTH html and wet.
    - whole-file (:func:`ingest_warc_files`): every other input — one
      ``mapInPandas`` over the ``binaryFile`` frame.

    Both are row-identical to the staged records-frame plan
    (:func:`ingest_records` over `sources/warc.py::read_warc`), which
    is kept as their pytest equivalence oracle.
    ``normalize_urls`` rewrites the url column through
    `functions/url.py::url_normalize` BEFORE dedup, so trivial variants
    ('HTTP://Example.COM:80/a#x' vs 'http://example.com/a?utm_source=y')
    collapse to one page — all JVM string expressions. ``wet=True``
    (r14, VERDICT r13 #4) ingests WET conversion records instead: the
    payload is ALREADY extracted text, so the pass runs no extractor
    and the JVM decodes the payload to text — ``content_type`` defaults
    to ``text/plain`` there, and the HTML-only knobs
    (max_link_density, main_content) are refused."""
    from ..sources.warc import warc_files

    _check_ingest_gates(wet, max_link_density, main_content, main_content_lang)
    if dedup_url and max_link_density is None and not main_content:
        indexed = ingest_warc_indexed(
            spark, input_glob, _mode_content_type(content_type, wet),
            normalize_urls, wet,
        )
        if indexed is not None:
            return indexed
    return ingest_warc_files(
        warc_files(spark, input_glob),
        content_type=content_type,
        max_link_density=max_link_density,
        dedup_url=dedup_url,
        normalize_urls=normalize_urls,
        main_content=main_content,
        main_content_lang=main_content_lang,
        wet=wet,
    )


def ingest_warc_files(
    files: DataFrame,
    content_type: str | None = "text/html",
    max_link_density: float | None = None,
    dedup_url: bool = False,
    normalize_urls: bool = False,
    main_content: bool = False,
    main_content_lang: str | None = None,
    wet: bool = False,
) -> DataFrame:
    """The whole-file ingest over any ``(path, content)`` frame — the
    ``binaryFile`` scan in :func:`ingest_warc_plan`, or a streaming
    micro-batch in `streaming/warc_stream.py`. ONE Arrow-batched
    ``mapInPandas`` parses each file and runs :func:`_gate_extract`
    (record gate + extractor) on every record, so a task holds one
    Python worker; then the JVM tail: :func:`_project_ingest_output`,
    the ``max_link_density`` gate and :func:`_dedup_by_url`. Output
    frames are bounded by record payload bytes, so a task never holds a
    whole file's decompressed records (the `read_warc` bound)."""
    from ..sources.warc import warc_file_records

    _check_ingest_gates(wet, max_link_density, main_content, main_content_lang)
    schema, frames = _gate_extract(
        wet, _mode_content_type(content_type, wet), main_content,
        main_content_lang,
    )

    def _run(batches):
        for pdf in batches:
            yield from frames(
                r
                for path, content in zip(pdf["path"], pdf["content"])
                for r in warc_file_records(str(path), bytes(content))
            )

    out = _project_ingest_output(
        files.select("path", "content").mapInPandas(_run, schema),
        normalize_urls, wet, main_content,
    )
    if max_link_density is not None:
        out = out.filter(F.col("link_density") <= max_link_density)
    if dedup_url:
        out = _dedup_by_url(out, tuple(c for c in out.columns if c != "url"))
    return out


def _check_ingest_gates(
    wet: bool,
    max_link_density: float | None,
    main_content: bool,
    main_content_lang: str | None,
) -> None:
    """Refuse, at plan build, the gate combinations no mode honours."""
    if wet and (main_content or max_link_density is not None):
        raise ValueError(
            "ingest: max_link_density/main_content are HTML-extraction "
            "gates; a WET payload is already extracted text — drop them "
            "with wet=True"
        )
    if main_content_lang is not None and not main_content:
        raise ValueError(
            "ingest: main_content_lang only applies with main_content=True"
        )
    if main_content and max_link_density is not None:
        raise ValueError(
            "ingest: max_link_density is a page-level gate; with "
            "main_content=True the block classifier already removes linky "
            "blocks — pass one or the other"
        )


def _gate_extract(
    wet: bool,
    content_type: str | None,
    main_content: bool = False,
    main_content_lang: str | None = None,
    chunk_bytes: int = 64 * 1024 * 1024,
):
    """The per-record Python work of both ingest shapes, defined once.
    The gate is the staged plan's: ``warc_type`` (conversion for WET,
    response otherwise), HTTP status 200 (not for WET — conversion
    records carry none), no undecodable content-coding, and the
    case-insensitive ``content_type`` prefix. The extractor is
    `extract_text`, the main-content classifier, or none (WET: the JVM
    decodes the payload). Returns ``(schema, frames)``:
    ``frames(records)`` yields the kept records' output rows as pandas
    frames, one every ``chunk_bytes`` of record payload."""
    from ..operators.html_text import (
        _MAIN_FIELDS,
        _OUT_FIELDS,
        JUSTEXT_STOPWORDS,
        _charset_from_content_type,
        decode_html,
        extract_main_text,
        extract_text,
    )

    wanted = "conversion" if wet else "response"
    ct = content_type.lower() if content_type else None
    if wet:
        fields, extract = "payload binary", None
    elif main_content:
        if (
            main_content_lang is not None
            and main_content_lang not in JUSTEXT_STOPWORDS
        ):
            raise ValueError(
                f"ingest: no stopword list for {main_content_lang!r} "
                f"(have {sorted(JUSTEXT_STOPWORDS)})"
            )
        fields = _MAIN_FIELDS
        extract = partial(extract_main_text, lang=main_content_lang)
    else:
        fields, extract = _OUT_FIELDS, extract_text
    schema = (
        "warc_file string, record_offset long, target_uri string, " + fields
    )
    cols = [f.split()[0] for f in schema.split(", ")]

    def frames(records):
        import pandas as pd

        rows: list[dict] = []
        pending = 0
        for r in records:
            if r["warc_type"] != wanted or r["undecoded_coding"] is not None:
                continue
            if not wet and r["http_status"] != 200:
                continue
            if ct and not (r["content_type"] or "").lower().startswith(ct):
                continue
            row = {
                "warc_file": r["warc_file"],
                "record_offset": r["record_offset"],
                "target_uri": r["target_uri"],
            }
            if extract is None:
                row["payload"] = r["payload"]
            else:
                html = decode_html(
                    r["payload"], _charset_from_content_type(r["content_type"])
                )
                row.update(extract(html))
            rows.append(row)
            pending += len(r["payload"])
            if pending >= chunk_bytes:
                yield pd.DataFrame(rows, columns=cols)
                rows, pending = [], 0
        if rows:
            yield pd.DataFrame(rows, columns=cols)

    return schema, frames


def _mode_content_type(content_type: str | None, wet: bool) -> str | None:
    """The signature's text/html default is an HTML-mode artifact —
    conversion records are text/plain by definition, so the unchanged
    default follows the mode; explicit overrides (None = keep all, or
    an exotic type) pass through."""
    return "text/plain" if wet and content_type == "text/html" else content_type


def ingest_records(
    records: DataFrame,
    content_type: str | None = "text/html",
    max_link_density: float | None = None,
    dedup_url: bool = False,
    normalize_urls: bool = False,
    main_content: bool = False,
    main_content_lang: str | None = None,
    wet: bool = False,
) -> DataFrame:
    """The staged ingest over any WARC-records frame — the ranged
    `read_warc_ranges` fetch of `cli ingest-warc --ranges` and
    `streaming/cdx_stream.py`, and, over `read_warc`, the equivalence
    oracle of :func:`ingest_warc_plan`: WET conversion records through
    :func:`ingest_wet_records`, HTML responses through
    :func:`ingest_warc_records`."""
    _check_ingest_gates(wet, max_link_density, main_content, main_content_lang)
    if not wet:
        return ingest_warc_records(
            records,
            content_type=content_type,
            max_link_density=max_link_density,
            dedup_url=dedup_url,
            normalize_urls=normalize_urls,
            main_content=main_content,
            main_content_lang=main_content_lang,
        )
    return ingest_wet_records(
        records,
        content_type=_mode_content_type(content_type, wet),
        dedup_url=dedup_url,
        normalize_urls=normalize_urls,
    )


def _selfkey(url: Column, doc_id: Column) -> Column:
    """The URL-dedup group's second key, shared by both plan shapes and
    always computed on the (possibly normalized) url the group keys on:
    0 for a real URL, the row's own doc_id for a null or empty one, so
    pages without a target URI never collapse into one survivor."""
    return F.when(url.isNull() | (url == ""), doc_id).otherwise(F.lit(0))


def _dedup_by_url(out: "DataFrame", cols: tuple) -> "DataFrame":
    """Per-URL struct-max dedup shared by both ingest modes (r13
    review: the two inline copies could drift): keep ONE page per URL
    via a struct-max agg, not a window (the W2 rule — no per-URL sort,
    one hash exchange). The winner is the max doc_id — hash-arbitrary
    but DETERMINISTIC across runs. Records WITHOUT a target URI (empty
    or NULL url — ADVICE r13: frames from other sources may carry
    nulls) key on their own doc_id via :func:`_selfkey`, so each
    survives (content-level dedup downstream is the real gate for
    those). ``cols`` = the non-url payload columns, doc_id first."""
    selfkey = _selfkey(F.col("url"), F.col("doc_id")).alias("__selfkey")
    return (
        out.groupBy("url", selfkey)
        .agg(F.max(F.struct(*cols)).alias("k"))
        .select(
            F.col("k.doc_id").alias("doc_id"), "url",
            *[F.col(f"k.{c}").alias(c) for c in cols if c != "doc_id"],
        )
    )


def ingest_warc_records(
    records: DataFrame,
    content_type: str | None = "text/html",
    max_link_density: float | None = None,
    dedup_url: bool = False,
    normalize_urls: bool = False,
    main_content: bool = False,
    main_content_lang: str | None = None,
) -> DataFrame:
    """The post-parse stages of :func:`ingest_warc_plan`, applicable to
    ANY WARC-records frame — shared by the batch plan and the streaming
    landing-dir ingest (whose foreachBatch hands micro-batch record
    frames). ``main_content=True`` swaps the page extractor for the
    jusText-lite block classifier (`operators/html_text.py::
    extract_main_content`): ``text`` becomes the boilerplate-REMOVED
    main text, and the quality columns are (n_blocks, n_good_blocks,
    removed_chars, stopword_lang, no_stopword_signal) instead of
    (n_links, link_density, text_chars) — max_link_density does not
    apply (block-level classification already dropped the linky
    blocks). ``main_content_lang`` pins the stopword list; default
    auto-picks per page, and pages with no stopword signal are flagged
    and kept (r14, VERDICT r13 #1 — never silently emptied)."""
    from ..functions.url import url_normalize
    from ..operators.html_text import extract_main_content

    _check_ingest_gates(False, max_link_density, main_content, main_content_lang)
    recs = records.filter(
        (F.col("http_status") == 200) & F.col("undecoded_coding").isNull()
    )
    if content_type:
        recs = recs.filter(
            F.lower(F.col("content_type")).startswith(content_type.lower())
        )
    url_col = (
        url_normalize(F.col("target_uri"))
        if normalize_urls
        else F.col("target_uri")
    )
    pages = recs.select(
        F.xxhash64("warc_file", "record_offset").alias("doc_id"),
        url_col.alias("url"),
        F.col("payload").alias("html"),
        "content_type",
    )
    if main_content:
        out = extract_main_content(
            pages,
            html_col="html",
            content_type_col="content_type",
            passthrough=("url",),
            lang=main_content_lang,
        ).select(
            "doc_id", "url", "title",
            F.col("main_text").alias("text"),
            "n_blocks", "n_good_blocks", "removed_chars",
            "stopword_lang", "no_stopword_signal",
        )
        if dedup_url:
            out = _dedup_by_url(
                out,
                ("doc_id", "title", "text", "n_blocks", "n_good_blocks",
                 "removed_chars", "stopword_lang", "no_stopword_signal"),
            )
        return out
    out = extract_html_text(
        pages,
        html_col="html",
        content_type_col="content_type",
        passthrough=("url",),
    )
    if max_link_density is not None:
        out = out.filter(F.col("link_density") <= max_link_density)
    out = out.select(
        "doc_id", "url", "title", "text", "n_links", "link_density",
        "text_chars",
    )
    if dedup_url:
        out = _dedup_by_url(
            out,
            ("doc_id", "title", "text", "n_links", "link_density",
             "text_chars"),
        )
    return out


def ingest_wet_records(
    records: DataFrame,
    content_type: str | None = "text/plain",
    dedup_url: bool = False,
    normalize_urls: bool = False,
) -> DataFrame:
    """Post-parse stages for WET conversion records (r14, VERDICT r13
    #4): the payload IS the extracted text (Common Crawl's WET
    convention — UTF-8 plain text, no HTTP framing, no markup), so this
    is a pure JVM projection: decode → length → optional URL dedup.
    No mapInPandas beyond the WARC parse itself, no http_status filter
    (conversion records carry none). Output: (doc_id, url, text,
    text_chars) — the HTML extractor's quality columns
    (title/n_links/link_density) do not exist for pre-extracted text
    and are deliberately absent rather than null-padded."""
    from ..functions.url import url_normalize

    recs = records.filter(
        (F.col("warc_type") == "conversion")
        & F.col("undecoded_coding").isNull()
    )
    if content_type:
        recs = recs.filter(
            F.lower(F.col("content_type")).startswith(content_type.lower())
        )
    url_col = (
        url_normalize(F.col("target_uri"))
        if normalize_urls
        else F.col("target_uri")
    )
    out = recs.select(
        F.xxhash64("warc_file", "record_offset").alias("doc_id"),
        url_col.alias("url"),
        # JVM charset decode (String-constructor semantics: malformed
        # sequences become U+FFFD, never a task failure) — WET payloads
        # are UTF-8 by the format's convention
        F.decode(F.col("payload"), "UTF-8").alias("text"),
    ).withColumn("text_chars", F.length("text"))
    if dedup_url:
        out = _dedup_by_url(out, ("doc_id", "text", "text_chars"))
        # _dedup_by_url emits (doc_id, url, <cols>) — realign to the
        # documented (doc_id, url, text, text_chars) order explicitly
        out = out.select("doc_id", "url", "text", "text_chars")
    return out


# --- index-planned ingest (optimization r16) ----------------------------------
#
# The whole-file dedup plan decompresses and extracts every page, then
# shuffles the full extracted text through the URL-dedup aggregate to
# make a decision that depends only on ~40 bytes of metadata per
# record. With a capture index (CDX — the artifact every real crawl
# ships) the DECISION becomes a pure-JVM scan of tiny index lines (no
# WARC byte touched, no Python), the winner set stays DISTRIBUTED (a
# metadata-only manifest shuffle — guide §8: shuffle keys and metadata,
# never payloads), and the fetch pass seeks straight to the winning
# gzip members, so non-winner page bytes are never read, let alone
# decompressed. The whole plan is LAZY — no plan-build-time jobs, no
# broadcast, no driver collect.
#
# Winner equivalence: the staged keep rule is max(struct(doc_id, ...))
# per (url, selfkey) group and doc_id = xxhash64(file, offset) is
# unique per record, so the struct max is decided by its first field —
# winner == argmax(doc_id), which the index lines determine without
# extraction (a 2^-64 doc_id collision inside one URL group is the
# same negligible-collision trade every hash-keyed plan in
# plans/dedup.py documents).
#
# doc-id parity: ids are xxhash64(warc_file, record_offset) where
# record_offset is the DECOMPRESSED stream offset a whole-file parse
# assigns. Real CDX only knows COMPRESSED member offsets, so this plan
# requires the generator's extended ``rec_offset`` field and
# deliberately refuses to engage without it — with it, output rows are
# byte-identical to the staged plan (pytest-pinned). A real-crawl
# deployment uses the cdx-plan → read_warc_ranges pair instead, whose
# read-path-scoped ids are documented in sources/warc.py.

_INDEXED_REQUIRED_FIELD = '"rec_offset"'


def _usable_index(input_glob: str) -> str | None:
    """Path to a generator-written ``index.cdxj`` covering
    ``input_glob``, or None. Usable = ``input_glob`` is a BARE
    directory (the index describes the whole directory, so a narrowing
    glob like ``dir/seg000*.warc.gz`` must NOT engage it — the indexed
    plan would ingest records the glob excludes) AND the index carries
    the ``rec_offset`` doc-id-parity field."""
    import os

    path = input_glob[5:] if input_glob.startswith("file:") else input_glob
    if any(ch in path for ch in "*?[{,"):
        return None
    if not os.path.isdir(path):
        return None
    idx = os.path.join(path, "index.cdxj")
    try:
        with open(idx) as fh:
            first = fh.readline()
    except OSError:
        return None
    return idx if _INDEXED_REQUIRED_FIELD in first else None


def _indexed_winner_manifest(
    spark: SparkSession,
    idx_path: str,
    content_type: str | None,
    normalize_urls: bool,
    wet: bool,
) -> DataFrame:
    """CDXJ index → URL-dedup winner fetch manifest
    ``(f, o, n, ro, wf)`` = (local file, member offset, member length,
    decompressed record offset, binaryFile-style file name). Applies
    the staged plan's capture-level gates (status, media type) on the
    index's own columns and the IDENTICAL `_dedup_by_url` keep rule —
    winner == argmax doc_id per (url, selfkey) group, doc_id computed
    from the same (file, rec_offset) pair the whole-file parse hashes.

    Trust posture: like `cli cdx-plan` → `read_warc_ranges`, the index
    is trusted for SELECTION (a stale index can only miss records —
    the fetch pass re-checks every gate on the parsed record, so wrong
    rows cannot be emitted). A winner that fails a fetch-time gate the
    index cannot see (e.g. an undecodable content-coding) drops its
    URL, where the staged plan would keep the URL's next capture. The
    index's ``mime`` is the bare media type, so a ``content_type``
    carrying parameters (``; charset=...``) would under-select;
    :func:`ingest_warc_indexed` refuses such types."""
    from ..functions.url import url_normalize

    lines = spark.read.text(idx_path).filter(F.length(F.trim("value")) > 0)
    js = F.element_at(F.split(F.col("value"), " ", 3), 3)
    fname = F.get_json_object(js, "$.filename")
    idx = lines.select(
        F.get_json_object(js, "$.url").alias("url"),
        F.get_json_object(js, "$.mime").alias("mime"),
        F.get_json_object(js, "$.status").cast("int").alias("status"),
        F.get_json_object(js, "$.offset").cast("bigint").alias("o"),
        F.get_json_object(js, "$.length").cast("bigint").alias("n"),
        fname.alias("f"),
        F.get_json_object(js, "$.rec_offset").cast("bigint").alias("ro"),
        # binaryFile names local files "file:<abs path>" — reproduce
        # that exact string so xxhash64(wf, ro) equals the whole-file
        # path's doc_id (row-identity pytest pins the format)
        F.when(
            fname.startswith("/"), F.concat(F.lit("file:"), fname)
        ).otherwise(fname).alias("wf"),
    )
    if not wet:
        idx = idx.filter(F.col("status") == 200)
    if content_type:
        idx = idx.filter(
            F.lower(F.col("mime")).startswith(content_type.lower())
        )
    url_col = (
        url_normalize(F.col("url")) if normalize_urls else F.col("url")
    )
    doc_id = F.xxhash64("wf", "ro")
    winners = (
        idx.select(
            url_col.alias("u"), _selfkey(url_col, doc_id).alias("__selfkey"),
            F.struct(doc_id.alias("doc_id"), "f", "o", "n", "ro", "wf").alias("m"),
        )
        .groupBy("u", "__selfkey")
        .agg(F.max("m").alias("k"))
        .select("k.f", "k.o", "k.n", "k.ro", "k.wf")
    )
    return _manifest_layout(winners, spark)


def _manifest_layout(winners: DataFrame, spark: SparkSession) -> DataFrame:
    """Fetch-task layout for the winner manifest (guide §2.5/§2.6,
    measured at sf0.1): a plain repartition("f") exposes two traps —
    AQE coalesces the few-MB metadata manifest onto one or two tasks
    (BYTES are a terrible proxy for per-member Python fetch+extract
    work: wall measured 8-16 s for ~14 task-s of work), and hashing a
    small file set serializes big files on single tasks. An EXPLICIT
    range partitioning on (file, offset) is AQE-stable, splits large
    files across tasks, and keeps each task's reads contiguous and
    seek-ordered (one open per consecutive file run, the
    read_warc_ranges discipline). The count scales with the cluster
    (defaultParallelism — one fetch wave), never a local constant."""
    n = max(spark.sparkContext.defaultParallelism, 16)
    return winners.repartitionByRange(n, "f", "o").sortWithinPartitions(
        "f", "o"
    )


def _fetch_extract_ranges(
    manifest: DataFrame,
    wet: bool,
    content_type: str | None,
) -> DataFrame:
    """Ranged winner fetch + parse + extract in ONE Python pass: seek
    to each winning gzip member, decompress just it, parse it with the
    standard incremental parser, and run :func:`_gate_extract` — the
    whole-file shape's gate and extractor, re-checked on the PARSED
    record, so a stale/lying index can only MISS rows here, never emit
    a row the staged plan would not. Non-winner bytes are never read.
    ``record_offset`` is the manifest's decompressed ``ro`` (doc-id
    parity, see section note)."""
    from ..sources.warc import WarcFormatError, parse_warc_stream

    schema, frames = _gate_extract(wet, content_type)

    def _run(batches):
        import gzip
        import io

        opened: dict = {}  # the one open file of a consecutive run

        def members(pdf):
            for f, o, n, ro, wf in zip(
                pdf["f"], pdf["o"], pdf["n"], pdf["ro"], pdf["wf"]
            ):
                name = str(f)
                path = name[5:] if name.startswith("file:") else name
                if path not in opened:
                    for fh in opened.values():
                        fh.close()
                    opened.clear()
                    opened[path] = open(path, "rb")
                fh = opened[path]
                fh.seek(int(o))
                blob = fh.read(int(n))
                if len(blob) != int(n):
                    raise WarcFormatError(
                        f"{name}: ranged read at {o} wanted {n} "
                        f"bytes, got {len(blob)} (stale index?)"
                    )
                data = gzip.decompress(blob) if path.endswith(".gz") else blob
                for r in parse_warc_stream(io.BytesIO(data), str(wf)):
                    r["record_offset"] = int(ro)
                    yield r

        try:
            for pdf in batches:
                yield from frames(members(pdf))
        finally:
            for fh in opened.values():
                fh.close()

    return manifest.mapInPandas(_run, schema)


def _project_ingest_output(
    fused: DataFrame, normalize_urls: bool, wet: bool, main_content: bool = False
) -> DataFrame:
    """JVM tail of both ingest shapes: doc_id/url/quality-column
    projection over the :func:`_gate_extract` frame, in the staged
    plan's column order."""
    from ..functions.url import url_normalize
    from ..operators.html_text import link_density_col

    url_col = (
        url_normalize(F.col("target_uri"))
        if normalize_urls
        else F.col("target_uri")
    )
    doc_id = F.xxhash64("warc_file", "record_offset").alias("doc_id")
    if wet:
        return fused.select(
            doc_id,
            url_col.alias("url"),
            F.decode(F.col("payload"), "UTF-8").alias("text"),
        ).withColumn("text_chars", F.length("text"))
    if main_content:
        return fused.select(
            doc_id, url_col.alias("url"), "title",
            F.col("main_text").alias("text"),
            "n_blocks", "n_good_blocks", "removed_chars",
            "stopword_lang", "no_stopword_signal",
        )
    return fused.select(
        doc_id,
        url_col.alias("url"),
        "title",
        "text",
        "n_links",
        link_density_col().alias("link_density"),
        "text_chars",
    )


def ingest_warc_indexed(
    spark: SparkSession,
    input_glob: str,
    content_type: str | None,
    normalize_urls: bool,
    wet: bool,
) -> DataFrame | None:
    """Index-planned form of ``ingest_warc_plan(..., dedup_url=True)``
    (see the section comment above): CDXJ winner manifest → ranged
    winner-only fetch+parse+extract → JVM projection, fully lazy, no
    driver collect, no broadcast, no whole-file decompression. Returns
    None (caller runs the whole-file plan) when no usable index covers
    ``input_glob``, or when ``content_type`` is not a bare media type
    — the index's ``mime`` carries no parameters to match against.
    Output is row-identical to the staged plan — pytest pins equality
    on generated corpora for both modes."""
    if content_type and re.search(r"[;\s]", content_type):
        return None
    idx = _usable_index(input_glob)
    if idx is None:
        return None
    manifest = _indexed_winner_manifest(
        spark, idx, content_type, normalize_urls, wet
    )
    fetched = _fetch_extract_ranges(manifest, wet, content_type)
    return _project_ingest_output(fetched, normalize_urls, wet)


@register("web_ingest_warc")
def web_ingest_warc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench row for the web-ingestion front door: the full
    `cli ingest-warc` plan (parse → extract → URL dedup) over a real
    generated .warc.gz corpus derived from the documents table.
    Host-I/O path — no DuckDB oracle (rows-only in the library gate);
    the extraction CONTRACT is hash-checked by `web_html_extract`, and
    the end-to-end row-level semantics by pytest.

    r16: the corpus is generated WITH its capture index (every real
    crawl ships one), so the plan auto-engages the index-planned form —
    winner selection on index lines, ranged winner-only fetch; output
    row-identical (tests/test_opt_r16.py)."""
    ensure_utc(spark)
    corpus = build_warc_corpus(sf_dir, index=True)
    return ingest_warc_plan(
        spark, corpus, content_type="text/html", dedup_url=True
    )


# --- URL analytics (round 13) ------------------------------------------------


@register(
    "web_url_normalize",
    oracle="""
WITH gen AS (
  SELECT doc_id,
         CASE doc_id % 4 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
              WHEN 2 THEN 'co.uk' ELSE 'io' END AS tld,
         CASE doc_id % 3 WHEN 0 THEN '?id=' || doc_id
              WHEN 1 THEN '?id=' || doc_id ELSE '' END AS q_norm
  FROM documents
)
SELECT doc_id,
       'http://www.site' || (doc_id % 40) || '.' || tld || '/p/'
         || doc_id || q_norm AS url_norm,
       'www.site' || (doc_id % 40) || '.' || tld AS host,
       CASE WHEN tld = 'co.uk'
            THEN 'site' || (doc_id % 40) || '.co.uk'
            ELSE 'site' || (doc_id % 40) || '.' || tld END AS domain
FROM gen
""",
)
def web_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL normalization/host/domain contract, hash-checked end to end:
    synthesize MESSY urls in-plan (uppercase scheme/host, default port,
    tracking params, fragments — JVM concat, no UDF on the build side),
    run the real `functions/url.py` expressions, and let the oracle
    PREDICT every output with SQL string arithmetic. A hash match pins:
    scheme/authority lowercasing, :80 stripping, fragment removal,
    utm_*/fbclid filtering with survivor order, empty-query '?'
    dropping, host extraction, and the second-level-suffix domain
    heuristic (the co.uk arm). Cap-parked (CONTRACT_EXCLUDE) behind
    scalar_parse_format's scan-bound parse/format family; green in
    check_contract --all."""
    from ..functions.url import url_host, url_normalize, url_registrable_domain

    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    tld = (
        F.when(d % 4 == 0, F.lit("com"))
        .when(d % 4 == 1, F.lit("org"))
        .when(d % 4 == 2, F.lit("co.uk"))
        .otherwise(F.lit("io"))
    )
    q = (
        F.when(d % 3 == 0, F.concat(F.lit("?utm_source=feed&id="), d))
        .when(d % 3 == 1, F.concat(F.lit("?id="), d, F.lit("&fbclid=xyz#frag")))
        .otherwise(F.lit(""))
    )
    messy = docs.select(
        "doc_id",
        F.concat(
            F.lit("HTTP://WWW.Site"), d % 40, F.lit("."), tld,
            F.lit(":80/p/"), d, q,
        ).alias("url"),
    )
    host = url_host(url_normalize(F.col("url")))
    return messy.select(
        "doc_id",
        url_normalize(F.col("url")).alias("url_norm"),
        host.alias("host"),
        url_registrable_domain(host).alias("domain"),
    )


def wat_outlinks(
    records: DataFrame, normalize_urls: bool = True
) -> DataFrame:
    """WAT metadata records → (src, dst) outlink edges (r14). Common
    Crawl ships a WAT sidecar per WARC: one ``WARC-Type: metadata``
    record per page whose JSON envelope carries the page's parsed
    outlinks at ``Envelope / Payload-Metadata / HTTP-Response-Metadata
    / HTML-Metadata / Links`` — the input every crawl-graph analysis
    (PageRank, domain authority, link-farm detection) starts from,
    WITHOUT re-parsing the HTML. Pure JVM after the WARC parse:
    ``get_json_object`` (bracket paths — the keys are hyphenated),
    ``from_json`` to an array of link structs, one ``explode``.
    Relative/empty hrefs drop (the graph wants resolvable targets and
    WAT link entries carry absolute urls for anchors); ``normalize_urls``
    runs both endpoints through `functions/url.py::url_normalize` so
    the graph keys match ingest-side document urls."""
    from ..functions.url import url_normalize

    js = F.decode(F.col("payload"), "UTF-8")
    links_raw = F.get_json_object(
        js,
        "$['Envelope']['Payload-Metadata']['HTTP-Response-Metadata']"
        "['HTML-Metadata']['Links']",
    )
    links = F.from_json(links_raw, "array<struct<url:string>>")
    edges = (
        records.filter(
            (F.col("warc_type") == "metadata")
            & F.lower(F.col("content_type")).startswith("application/json")
        )
        .select(
            F.col("target_uri").alias("src"),
            F.explode(links).alias("link"),
        )
        .select("src", F.col("link.url").alias("dst"))
        .filter(
            # lower() BEFORE the scheme test: the filter sees the RAW
            # href (normalization comes after), and crawls carry
            # 'HTTP://' scheme casing
            F.col("dst").isNotNull()
            & F.lower(F.col("dst")).startswith("http")
        )
    )
    if normalize_urls:
        edges = edges.select(
            url_normalize(F.col("src")).alias("src"),
            url_normalize(F.col("dst")).alias("dst"),
        )
    return edges


@register(
    "web_wat_linkgraph",
    oracle="""
WITH gen AS (
  SELECT doc_id AS d FROM documents
),
edges AS (
  SELECT 'site' || (d % 20) || '.com' AS src_domain,
         'site' || ((d + 1) % 20) || '.org' AS dst_domain
  FROM gen
  UNION ALL
  SELECT 'site' || (d % 20) || '.com',
         'site' || ((d + 2) % 20) || '.io'
  FROM gen WHERE d % 3 = 0
)
SELECT src_domain, dst_domain, CAST(count(*) AS BIGINT) AS n_links
FROM edges
GROUP BY src_domain, dst_domain
""",
)
def web_wat_linkgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAT outlink-extraction contract, hash-checked end to end:
    synthesize WAT-shaped metadata records IN-PLAN (the real JSON
    envelope nesting, binary-encoded payloads, 1-2 links per doc by
    doc_id arithmetic), run the REAL `wat_outlinks` expressions
    (bracket-path get_json_object, from_json, explode, url_normalize),
    collapse to the registrable-domain link graph. The oracle predicts
    the (src_domain, dst_domain, n_links) census from the same
    arithmetic WITHOUT any JSON machinery — a hash match pins the
    extraction chain. Cap-parked (CONTRACT_EXCLUDE) behind
    scalar_parse_format's parse family + graph siblings; green in
    check_contract --all."""
    from ..functions.url import url_host, url_registrable_domain

    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    k = d % 20
    link1 = F.concat(
        F.lit('{"url": "http://site'), (d + 1) % 20, F.lit('.org/p"}')
    )
    link2 = F.when(
        d % 3 == 0,
        F.concat(
            F.lit(', {"url": "http://site'), (d + 2) % 20, F.lit('.io/q"}')
        ),
    ).otherwise(F.lit(""))
    envelope = F.concat(
        F.lit(
            '{"Envelope": {"Payload-Metadata": '
            '{"HTTP-Response-Metadata": {"HTML-Metadata": {"Links": ['
        ),
        link1, link2, F.lit("]}}}}}"),
    )
    records = docs.select(
        F.concat(F.lit("http://site"), k, F.lit(".com/page/"), d).alias(
            "target_uri"
        ),
        F.lit("metadata").alias("warc_type"),
        F.lit("application/json").alias("content_type"),
        F.encode(envelope, "UTF-8").alias("payload"),
    )
    edges = wat_outlinks(records)
    return (
        edges.select(
            url_registrable_domain(url_host(F.col("src"))).alias(
                "src_domain"
            ),
            url_registrable_domain(url_host(F.col("dst"))).alias(
                "dst_domain"
            ),
        )
        .groupBy("src_domain", "dst_domain")
        .agg(F.count("*").cast("long").alias("n_links"))
    )


_SITEMAP_SCHEMA = (
    "STRUCT<url: ARRAY<STRUCT<loc: STRING>>, "
    "sitemap: ARRAY<STRUCT<loc: STRING>>>"
)


def sitemap_urls(
    df: DataFrame, xml_col: str = "xml", passthrough: tuple = ()
) -> DataFrame:
    """Sitemap XML → one row per ``<loc>`` URL (r14) — the crawl-
    frontier input robots.txt points at. Pure JVM via ``from_xml``
    (PERMISSIVE: malformed XML nulls out and yields zero rows instead
    of killing the task — probed explicitly; Spark's ``xpath``
    expression RAISES on unparseable input, which is the wrong posture
    for crawl data); namespace-transparent for the sitemaps.org
    default namespace, single elements read as 1-element arrays.
    ``is_index`` marks ``<sitemapindex>`` documents (their locs are
    MORE sitemaps to fetch, not pages)."""
    p = F.from_xml(F.col(xml_col), _SITEMAP_SCHEMA)
    return (
        df.select(
            *passthrough,
            p["sitemap"].isNotNull().alias("is_index"),
            F.explode(F.coalesce(p["sitemap"], p["url"])).alias("e"),
        )
        .filter(F.col("e.loc").isNotNull())
        .select(
            *passthrough,
            F.trim(F.col("e.loc")).alias("loc"),
            "is_index",
        )
    )


@register(
    "web_sitemap_urls",
    oracle="""
WITH gen AS (SELECT doc_id AS d FROM documents),
expanded AS (
  SELECT d, FALSE AS is_index,
         'http://site' || (d % 20) || '.com/p/' || d || '/' || i AS loc
  FROM gen, (SELECT 0 AS i UNION ALL SELECT 1) seq
  WHERE d % 5 <> 0
  UNION ALL
  SELECT d, TRUE,
         'http://site' || (d % 20) || '.com/sitemap-' || d || '.xml'
  FROM gen WHERE d % 5 = 0
)
SELECT d AS doc_id, loc, is_index FROM expanded
""",
)
def web_sitemap_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap-extraction contract, hash-checked end to end:
    synthesize sitemap XML IN-PLAN — urlset docs with two ``<url><loc>``
    entries (namespaced, with lastmod noise the extractor must skip)
    for most docs, a ``<sitemapindex>`` doc with one ``<sitemap><loc>``
    for every fifth — run the REAL `sitemap_urls` xpath expressions,
    and predict every (doc_id, loc, is_index) row arithmetically.
    Cap-parked (CONTRACT_EXCLUDE) behind scalar_parse_format's
    parse/format family; green in check_contract --all."""
    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    k = d % 20
    urlset = F.concat(
        F.lit('<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
              "<url><loc>http://site"),
        k, F.lit(".com/p/"), d, F.lit("/0</loc>"
        "<lastmod>2026-01-01</lastmod></url><url><loc>http://site"),
        k, F.lit(".com/p/"), d, F.lit("/1</loc></url></urlset>"),
    )
    index = F.concat(
        F.lit("<sitemapindex><sitemap><loc> http://site"),
        k, F.lit(".com/sitemap-"), d,
        F.lit(".xml </loc></sitemap></sitemapindex>"),
    )
    xml = F.when(d % 5 == 0, index).otherwise(urlset)
    frames = docs.select("doc_id", xml.alias("xml"))
    return sitemap_urls(frames, passthrough=("doc_id",))


@register(
    "web_robots_filter",
    oracle="""
WITH gen AS (SELECT doc_id AS d FROM documents)
SELECT d AS doc_id,
       'http://site' || (d % 10) || '.com' ||
         CASE d % 4 WHEN 0 THEN '/public/x' WHEN 1 THEN '/priv%61te/x'
              WHEN 2 THEN '/private/ok/x' ELSE '/mybot-only/x' END AS url,
       CASE WHEN (d % 10) % 2 = 0 THEN d % 4 = 3
            ELSE d % 4 = 1 END AS robots_disallowed
FROM gen
""",
)
def web_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt exclusion contract, hash-checked end to end: build a
    deterministic rules table (a ``*`` group with a disallow and a
    LONGER overriding allow on every host; a ``mybot`` group on
    even-numbered hosts only) and per-doc page URLs IN-PLAN, run the
    REAL `operators/robots.py::robots_filter` under agent='mybot', and
    let the oracle predict every verdict arithmetically. A hash match
    pins: host equi-join scoping, LIKE-pattern matching, longest-match
    precedence with allow-beats-disallow ties, the RFC agent-group
    choice (a host WITH a mybot group ignores its ``*`` group — so
    /private flips allowed there, and /mybot-only flips disallowed),
    and (r15) RFC 9309 §2.2.2 percent-normalization on the page side:
    the d%4==1 URLs carry ``/priv%61te/x`` — an unreserved-octet
    escape that must decode to ``a`` for the ``/private`` disallow to
    fire, while the output keeps the raw (still-encoded) url string.
    The PARSER (robots.txt text → rules) is Python-side and
    pytest-locked (TestRobots); this row checks the verdict plan.
    Cap-parked (CONTRACT_EXCLUDE) behind the equi-join + struct-max
    families; green in check_contract --all."""
    from ..operators.robots import robots_filter

    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    path = (
        F.when(d % 4 == 0, F.lit("/public/x"))
        .when(d % 4 == 1, F.lit("/priv%61te/x"))
        .when(d % 4 == 2, F.lit("/private/ok/x"))
        .otherwise(F.lit("/mybot-only/x"))
    )
    pages = docs.select(
        "doc_id",
        F.concat(F.lit("http://site"), d % 10, F.lit(".com"), path).alias(
            "url"
        ),
    )
    hosts = docs.select(
        F.concat(F.lit("site"), (d % 10), F.lit(".com")).alias("host"),
        (d % 10).alias("h"),
    ).distinct()
    star = hosts.select(
        "host",
        F.explode(
            F.array(
                F.struct(
                    F.lit("*").alias("agent"),
                    F.lit(False).alias("allow"),
                    F.lit("/private%").alias("pattern"),
                    F.lit(8).alias("raw_len"),
                ),
                F.struct(
                    F.lit("*").alias("agent"),
                    F.lit(True).alias("allow"),
                    F.lit("/private/ok%").alias("pattern"),
                    F.lit(11).alias("raw_len"),
                ),
            )
        ).alias("r"),
    )
    mybot = hosts.filter(F.col("h") % 2 == 0).select(
        "host",
        F.explode(
            F.array(
                F.struct(
                    F.lit("mybot").alias("agent"),
                    F.lit(False).alias("allow"),
                    F.lit("/mybot-only%").alias("pattern"),
                    F.lit(11).alias("raw_len"),
                )
            )
        ).alias("r"),
    )
    rules = star.unionByName(mybot).select(
        "host", "r.agent", "r.allow", "r.pattern", "r.raw_len"
    )
    out = robots_filter(pages, rules, agent="mybot")
    return out.select("doc_id", "url", "robots_disallowed")


@register(
    "web_ingest_wet",
    oracle="""
WITH gen AS (
  SELECT doc_id, text FROM documents WHERE length(trim(text)) > 0
)
SELECT 'http://bench.test/' || doc_id || '/' || u AS url,
       CAST(length('Page ' || doc_id || '-' || (2*u) || chr(10) || text)
            AS INT) AS text_chars
FROM gen CROSS JOIN range(10) t(u)
""",
)
def web_ingest_wet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench row for the WET fast path (r14): the `cli ingest-warc
    --wet --dedup-url` plan over a WET-shaped corpus derived from the
    same documents table as `web_ingest_warc`'s — measures what
    skipping the HTML extractor buys (parse + JVM decode + one dedup
    exchange vs parse + extract + dedup). r15 (VERDICT r14 #9): the
    corpus is deterministic and WET text passes through VERBATIM, so
    the row is value-HASH-checked, not rows-only — the oracle
    reconstructs every (url, text_chars) pair arithmetically from the
    documents table (payload = 'Page {doc_id}-{rep}\\n{text}', 20
    replicas, URL-pair reps 2k/2k+1 share a digit count, URL dedup
    keeps one of each pair). The output projects (url, text_chars):
    doc_id is xxhash64(file, offset) and text carries the winning
    replica's id — both dedup-winner-dependent, unpredictable in SQL —
    while the MEASURED plan (parse → decode → length → struct-max
    dedup) is unchanged from r14; only the noop sink stops
    materializing the text column (cross-round note for the bench
    ledger). WET semantics remain pytest-pinned (TestWetIngest)."""
    ensure_utc(spark)
    corpus = build_warc_corpus(sf_dir, kind="conversion", index=True)
    out = ingest_warc_plan(spark, corpus, wet=True, dedup_url=True)
    return out.select("url", "text_chars")


@register(
    "web_cdx_stats",
    oracle="""
WITH gen AS (
  SELECT doc_id AS d, length(trim(text)) AS n_chars FROM documents
),
rows_ AS (
  SELECT d, n_chars,
    CASE WHEN d % 4 = 2 THEN 'sub.site' || (d % 20) || '.org'
         ELSE 'site' || (d % 20) || '.' ||
              CASE d % 4 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
                   ELSE 'io' END
    END AS host,
    CASE WHEN d % 5 = 0 THEN 'application/pdf'
         ELSE 'text/html' END AS mime,
    CASE WHEN d % 7 = 0 THEN 404 ELSE 200 END AS status,
    strptime('20260101'
             || lpad(CAST(d % 24 AS VARCHAR), 2, '0')
             || lpad(CAST(d % 60 AS VARCHAR), 2, '0')
             || lpad(CAST((d * 2) % 60 AS VARCHAR), 2, '0'),
             '%Y%m%d%H%M%S') AS ts
  FROM gen
)
SELECT host, mime, status,
       CAST(count(*) AS BIGINT) AS n_captures,
       CAST(sum(n_chars) AS BIGINT) AS total_bytes,
       CAST(max(epoch(ts)) AS BIGINT) AS last_capture_unix
FROM rows_
GROUP BY host, mime, status
""",
)
def web_cdx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-index analytics contract, hash-checked end to end:
    synthesize CDXJ lines from the documents table IN-PLAN (JVM concat
    — SURT keys incl. a 3-label host arm, 14-digit timestamps, the JSON
    payload with string-typed numerics exactly as the cc-index emits
    them), parse with the REAL `sources/cdx.py` expressions
    (limit-3 split, get_json_object + casts, to_timestamp, surt_host
    label reversal), and aggregate per (host, mime, status). A hash
    match pins the whole index-reader contract on well-formed lines;
    malformed-line nulling is pytest's job (TestCdxSource). Cap-parked
    (CONTRACT_EXCLUDE) behind scalar_parse_format's scan-bound
    parse/format family; green in check_contract --all."""
    from ..sources.cdx import cdxj_columns, surt_host

    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length(F.trim("text")).alias("n_chars")
    )
    d = F.col("doc_id")
    k = d % 20
    tld = (
        F.when(d % 4 == 0, F.lit("com"))
        .when(d % 4 == 1, F.lit("org"))
        .otherwise(F.lit("io"))
    )
    surt_auth = F.when(
        d % 4 == 2, F.concat(F.lit("org,site"), k, F.lit(",sub"))
    ).otherwise(F.concat(tld, F.lit(",site"), k))
    mime = F.when(d % 5 == 0, F.lit("application/pdf")).otherwise(
        F.lit("text/html")
    )
    status = F.when(d % 7 == 0, F.lit(404)).otherwise(F.lit(200))
    ts14 = F.format_string(
        "20260101%02d%02d%02d", d % 24, d % 60, (d * 2) % 60
    )
    line = F.concat(
        surt_auth, F.lit(")/p/"), d, F.lit(" "), ts14, F.lit(" "),
        F.lit('{"url": "http://h/p", "mime": "'), mime,
        F.lit('", "status": "'), status.cast("string"),
        F.lit('", "digest": "sha1:x", "length": "'),
        F.col("n_chars").cast("string"),
        F.lit('", "offset": "'), (d * 100).cast("string"),
        F.lit('", "filename": "seg.warc.gz"}'),
    )
    cols = cdxj_columns(line)
    parsed = docs.select(
        cols["surt_key"].alias("surt_key"),
        cols["ts"].alias("ts"),
        cols["mime"].alias("mime"),
        cols["status"].alias("status"),
        cols["length"].alias("length"),
    ).withColumn("host", surt_host(F.col("surt_key")))
    return parsed.groupBy("host", "mime", "status").agg(
        F.count("*").cast("long").alias("n_captures"),
        F.sum("length").cast("long").alias("total_bytes"),
        F.max(F.unix_timestamp("ts")).cast("long").alias(
            "last_capture_unix"
        ),
    )


def domain_census(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Per-registrable-domain corpus census over ANY documents-shaped
    frame with a URL column (r14, VERDICT r13 #5 — the aggregate
    `web_domain_stats` proves on synthesized URLs, runnable over a real
    ingested corpus via `cli domain-stats`): doc counts, distinct
    hosts, and text mass per domain. Text mass prefers an existing
    ``text_chars`` column (both ingest modes emit one... the HTML mode
    emits ``text_chars``, main-content mode doesn't — fall back to
    ``length(text)``). ONE hash aggregate, no joins; rows without a
    parseable host group under domain='' so corpus mass is never
    silently dropped."""
    from ..functions.url import url_host, url_registrable_domain

    chars = (
        F.col("text_chars").cast("long")
        if "text_chars" in df.columns
        else F.length("text").cast("long")
    )
    host = url_host(F.col(url_col))
    return (
        df.select(
            chars.alias("n_chars"),
            F.coalesce(host, F.lit("")).alias("host"),
        )
        .select(
            "n_chars", "host",
            F.coalesce(
                url_registrable_domain(F.col("host")), F.lit("")
            ).alias("domain"),
        )
        .groupBy("domain")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("host").cast("long").alias("n_hosts"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


@register(
    "web_domain_stats",
    oracle="""
WITH gen AS (
  SELECT doc_id,
         CASE doc_id % 4 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
              WHEN 2 THEN 'co.uk' ELSE 'io' END AS tld,
         length(trim(text)) AS n_chars
  FROM documents
),
urls AS (
  SELECT doc_id, n_chars,
         CASE WHEN tld = 'co.uk'
              THEN 'site' || (doc_id % 40) || '.co.uk'
              ELSE 'site' || (doc_id % 40) || '.' || tld END AS domain,
         'www' || (doc_id % 3) || '.site' || (doc_id % 40) || '.' || tld
           AS host
  FROM gen
)
SELECT domain,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM urls
GROUP BY domain
""",
)
def web_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain corpus census — the aggregation every crawl-curation
    pass runs before building domain allow/block lists: doc counts,
    distinct hosts, and text mass per registrable domain. URLs are
    synthesized in-plan (multiple www-subdomain hosts per domain, the
    co.uk second-level arm included) so the oracle predicts the REAL
    `url_host`/`url_registrable_domain` expressions under a groupBy —
    the URL family composing into analytics, hash-checked. One hash
    aggregate, no joins. Cap-parked (CONTRACT_EXCLUDE) like its sibling
    web_url_normalize."""
    from ..functions.url import url_host, url_registrable_domain

    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length(F.trim("text")).alias("n_chars")
    )
    d = F.col("doc_id")
    tld = (
        F.when(d % 4 == 0, F.lit("com"))
        .when(d % 4 == 1, F.lit("org"))
        .when(d % 4 == 2, F.lit("co.uk"))
        .otherwise(F.lit("io"))
    )
    urls = docs.select(
        "n_chars",
        F.concat(
            F.lit("https://WWW"), d % 3, F.lit(".Site"), d % 40,
            F.lit("."), tld, F.lit("/p/"), d,
        ).alias("url"),
    )
    host = url_host(F.col("url"))
    return (
        urls.select("n_chars", host.alias("host"))
        .select(
            "n_chars", "host",
            url_registrable_domain(F.col("host")).alias("domain"),
        )
        .groupBy("domain")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("host").cast("long").alias("n_hosts"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )
