"""WARC (Web ARChive) source — Common Crawl-shaped web ingestion.

The reference pipeline never ingested web corpora, but a 100 TB LLM
data pipeline starts from one: Common Crawl ships WARC/1.0 files
(ISO 28500, public spec) of gzip-compressed records — each record its
own gzip MEMBER, so a crawl file is a concatenation of small gzip
streams. That framing is exactly what makes the format
Spark-splittable at the FILE level and stdlib-parsable here:

- discovery + bytes come from Spark's ``binaryFile`` source (one row
  per .warc.gz — the same listing-free pattern as
  ``pipeline/discover.py``), so the driver never lists or reads files;
- each task decodes ITS files with :mod:`gzip` (which transparently
  consumes concatenated members) and a pure-stdlib WARC header parser
  inside one Arrow-batched ``mapInPandas`` — no external warcio
  dependency, nothing row-at-a-time over record payloads;
- parallelism is per-FILE (a .gz stream is not seekable mid-member):
  the standard Common Crawl layout is ~1 GB × 64k files per crawl, so
  a 1000-executor cluster is saturated by file count, not intra-file
  splits. The PARSER is incremental (peak one record), and the Arrow
  batches it feeds are BOUNDED: ``read_warc`` flushes a pandas frame
  every ``chunk_bytes`` of accumulated payload (default 64 MB), so a
  task's peak is the file's COMPRESSED bytes (the ``binaryFile`` row,
  ~1 GB at Common Crawl sizing) + one in-flight chunk + its pandas
  copy — NOT the file's full DECOMPRESSED payload set (a 1 GB .warc.gz
  decompresses to ~4-5 GB of payloads; per-file frames would cost
  ~10 GB/task, an OOM on standard 8-16 GiB-per-core executors). A
  deployment needing sub-file streaming would swap the binaryFile leaf
  for a custom datasource feeding the SAME ``parse_warc_stream`` —
  the parser already takes any byte stream.

Records surface as (warc_file, record_offset, warc_type, record_id,
target_uri, warc_date, content_type, http_status, payload binary,
undecoded_coding). HTTP response records are unwrapped: ``payload``
is the HTTP BODY (the HTML), with the status line parsed into
``http_status``. A body whose Content-Encoding names a KNOWN codec
this stdlib-only parser cannot decode (brotli ``br``, ``zstd``,
LZW ``compress`` — common in modern crawls) is kept raw and FLAGGED
via ``undecoded_coding`` so ingestion can drop it explicitly instead
of flowing compressed bytes into text extraction as mojibake. Pair
with :mod:`..operators.html_text` for text extraction.
"""

from __future__ import annotations

from typing import BinaryIO, Callable, Iterator

from pyspark.sql import DataFrame, SparkSession


def _default_opener(path: str) -> BinaryIO:
    """Local/POSIX opener for `read_warc_ranges` — the default for the
    pluggable ``opener`` seam (an object-store deployment passes its
    own ``path -> binary file-like`` callable instead)."""
    return open(path, "rb")

WARC_SCHEMA = (
    "warc_file string, record_offset long, warc_type string, "
    "record_id string, target_uri string, warc_date string, "
    "content_type string, http_status int, payload binary, "
    "undecoded_coding string"
)

# content-codings we recognize but cannot decode stdlib-only; flagged,
# never silently passed as text (ADVICE r12: brotli is common in
# modern crawls and raw `br` bytes read as binary mojibake documents)
_UNSUPPORTED_CODINGS = frozenset({"br", "zstd", "compress", "x-compress"})


class WarcFormatError(ValueError):
    """Malformed WARC framing — raised, never silently skipped: a
    mid-file parse failure means truncated/corrupt crawl data, and a
    dedup/extraction pass over silently-halved input is worse than a
    loud task failure."""


def _parse_headers(block: bytes) -> dict[str, str]:
    headers: dict[str, str] = {}
    for line in block.split(b"\r\n"):
        if not line or b":" not in line:
            continue
        k, _, v = line.partition(b":")
        headers[k.strip().lower().decode("latin-1")] = v.strip().decode(
            "latin-1", "replace"
        )
    return headers


class _ChunkedLineReader:
    """Line/range reads over a byte stream in LARGE chunks (r15,
    VERDICT r14 #2): `parse_warc_stream` issues ~10 readline calls per
    record, and through `gzip.GzipFile.readline` each one walks a
    four-frame decompress stack — the profiled hot loop of the ingest
    bench row. Reading 1 MB at a time and splitting lines with
    `bytes.find` replaces ~31k stream calls per segment with ~a few
    dozen, keeping the SAME bounded-memory posture (peak = one chunk
    or one in-flight record block, whichever is larger — exactly what
    the parser already held)."""

    __slots__ = ("_stream", "_buf", "_pos", "_eof", "_chunk")

    def __init__(self, stream, chunk: int = 1 << 20) -> None:
        self._stream = stream
        self._buf = b""
        self._pos = 0
        self._eof = False
        self._chunk = chunk

    def _refill(self) -> bool:
        if self._eof:
            return False
        data = self._stream.read(self._chunk)
        if not data:
            self._eof = True
            return False
        self._buf = self._buf[self._pos :] + data
        self._pos = 0
        return True

    def readline(self) -> bytes:
        while True:
            i = self._buf.find(b"\n", self._pos)
            if i >= 0:
                line = self._buf[self._pos : i + 1]
                self._pos = i + 1
                return line
            if not self._refill():
                line = self._buf[self._pos :]
                self._pos = len(self._buf)
                return line

    def read(self, n: int) -> bytes:
        while len(self._buf) - self._pos < n and self._refill():
            pass
        out = self._buf[self._pos : self._pos + n]
        self._pos += len(out)
        return out


def _dechunk(body: bytes) -> bytes:
    """Decode HTTP/1.1 chunked transfer framing (hex-size CRLF lines).
    Raises ValueError on malformed framing — caller decides posture."""
    out, pos = [], 0
    while True:
        nl = body.find(b"\r\n", pos)
        if nl < 0:
            raise ValueError("chunked body: missing size line")
        size = int(body[pos:nl].split(b";")[0].strip() or b"0", 16)
        pos = nl + 2
        if size == 0:
            return b"".join(out)
        chunk = body[pos : pos + size]
        if len(chunk) != size:
            raise ValueError("chunked body: truncated chunk")
        out.append(chunk)
        pos += size + 2  # trailing CRLF


def _decode_http_body(
    body: bytes, headers: dict[str, str]
) -> tuple[bytes, str | None]:
    """Undo transfer/content codings the crawler recorded verbatim
    (real crawls carry both): chunked framing first, then
    gzip/x-gzip/deflate. Returns ``(body, undecoded_coding)`` —
    the second element names a KNOWN coding we recognized but could
    not decode (``br``/``zstd``/``compress``: no stdlib codec), so
    the caller surfaces it as a column instead of passing compressed
    bytes downstream as text. A body whose declared gzip/deflate
    coding FAILS to decode is kept raw un-flagged — the header may
    simply be wrong (common in the wild); mojibake flows to the
    downstream quality gates, while raising would kill the whole task
    over one mislabeled page. (Framing errors at the WARC layer still
    refuse — that contract is unchanged.)"""
    te = headers.get("transfer-encoding", "").lower()
    if "chunked" in te:
        try:
            body = _dechunk(body)
        except ValueError:
            return body, None
    ce = headers.get("content-encoding", "").lower().strip()
    # Content-Encoding is a comma-separated LIST applied left-to-right
    # (RFC 9110 §8.4) — decode right-to-left, outermost first; a lone
    # label is the one-element case of the same loop. 'gzip, br' must
    # flag 'br' exactly like a bare 'br' does (r13 review: the
    # exact-match form passed multi-coding bodies through unflagged).
    for coding in reversed([t.strip() for t in ce.split(",") if t.strip()]):
        if coding == "identity":
            continue
        if coding in ("gzip", "x-gzip"):
            import gzip as _gz

            try:
                body = _gz.decompress(body)
                continue
            except OSError:
                # mislabeled (common in the wild) — keep raw, unflagged
                return body, None
        if coding == "deflate":
            import zlib

            decoded = None
            for wbits in (zlib.MAX_WBITS, -zlib.MAX_WBITS):  # zlib + raw
                try:
                    decoded = zlib.decompress(body, wbits)
                    break
                except zlib.error:
                    continue
            if decoded is None:
                return body, None
            body = decoded
            continue
        if coding in _UNSUPPORTED_CODINGS:
            return body, coding
        return body, None  # unknown label: mislabel posture, unflagged
    return body, None


def parse_warc_stream(stream, warc_file: str) -> Iterator[dict]:
    """Incremental WARC/1.0 record iterator over a DECOMPRESSED byte
    stream (pass a ``gzip.GzipFile`` for .warc.gz — stdlib gzip
    consumes concatenated members transparently). Yields one dict per
    record; peak memory is one record (plus the 1 MB read-ahead
    chunk — see `_ChunkedLineReader`, the r15 hot-loop fix)."""
    stream = _ChunkedLineReader(stream)
    offset = 0
    while True:
        magic = stream.readline()
        if not magic:
            return
        if magic.strip() == b"":  # inter-record CRLF padding
            offset += len(magic)
            continue
        if not magic.startswith(b"WARC/"):
            raise WarcFormatError(
                f"{warc_file}: expected WARC/1.x version line at "
                f"~offset {offset}, got {magic[:40]!r}"
            )
        # one-pass header parse (r15): the former accumulate → join →
        # resplit did the line work twice per record
        headers: dict[str, str] = {}
        consumed = len(magic)
        while True:
            line = stream.readline()
            if not line:
                raise WarcFormatError(
                    f"{warc_file}: EOF inside record headers at ~offset {offset}"
                )
            consumed += len(line)
            if line in (b"\r\n", b"\n"):
                break
            if b":" in line:
                k, _, v = line.partition(b":")
                headers[k.strip().lower().decode("latin-1")] = (
                    v.strip().decode("latin-1", "replace")
                )
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError) as exc:
            raise WarcFormatError(
                f"{warc_file}: record at ~offset {offset} has no valid "
                "Content-Length"
            ) from exc
        block = stream.read(length)
        if len(block) != length:
            raise WarcFormatError(
                f"{warc_file}: truncated record at ~offset {offset} "
                f"(wanted {length} payload bytes, got {len(block)})"
            )
        consumed += length
        warc_type = headers.get("warc-type", "")
        content_type = headers.get("content-type", "")
        http_status = None
        payload = block
        undecoded = None
        # unwrap HTTP response/request framing: the WARC block is the
        # full HTTP message; body starts after the first blank line
        if content_type.startswith("application/http"):
            sep = block.find(b"\r\n\r\n")
            if sep >= 0:
                status_line = block[: block.find(b"\r\n")]
                parts = status_line.split()
                if len(parts) >= 2 and parts[0].startswith(b"HTTP/"):
                    try:
                        http_status = int(parts[1])
                    except ValueError:
                        http_status = None
                http_headers = _parse_headers(block[:sep])
                content_type = http_headers.get("content-type", content_type)
                payload, undecoded = _decode_http_body(
                    block[sep + 4 :], http_headers
                )
        yield {
            "warc_file": warc_file,
            "record_offset": offset,
            "warc_type": warc_type,
            "record_id": headers.get("warc-record-id", ""),
            "target_uri": headers.get("warc-target-uri", ""),
            "warc_date": headers.get("warc-date", ""),
            "content_type": content_type,
            "http_status": http_status,
            "payload": payload,
            "undecoded_coding": undecoded,
        }
        offset += consumed


def warc_file_records(path: str, content: bytes) -> Iterator[dict]:
    """Every record of one whole WARC(.gz) file's bytes, in file order —
    a ``.gz`` name is read through :mod:`gzip`, which consumes the
    concatenated per-record members transparently."""
    import gzip
    import io

    raw = io.BytesIO(content)
    stream = gzip.GzipFile(fileobj=raw) if path.endswith(".gz") else raw
    return parse_warc_stream(stream, path)


def parse_warc_file_chunks(
    path: str,
    content: bytes,
    wanted: frozenset[str],
    chunk_bytes: int,
) -> Iterator["pd.DataFrame"]:
    """One WARC(.gz) file's wanted records as a stream of BOUNDED
    pandas frames: flush whenever accumulated payload bytes cross
    ``chunk_bytes``, so peak memory is one chunk + its frame — never
    the file's full decompressed record set (VERDICT r12 #1). Shared
    by ``read_warc``'s mapInPandas body and the bounded-memory pytest
    (which drives it directly to observe batch boundaries)."""
    import pandas as pd

    rows: list[dict] = []
    pending = 0
    for r in warc_file_records(path, content):
        if r["warc_type"] not in wanted:
            continue
        rows.append(r)
        pending += len(r["payload"])
        if pending >= chunk_bytes:
            yield pd.DataFrame(rows)
            rows, pending = [], 0
    if rows:
        yield pd.DataFrame(rows)


def read_warc(
    spark: SparkSession,
    path_glob: str,
    record_types: tuple[str, ...] = ("response",),
    chunk_bytes: int = 64 * 1024 * 1024,
) -> DataFrame:
    """WARC records as a DataFrame — one row per record of the given
    ``record_types`` (Common Crawl convention: ``response`` carries the
    HTML; ``request``/``metadata``/``warcinfo`` exist alongside).

    This is the records-frame reader: every record column, for plans
    that need records rather than documents (WAT outlinks, robots.txt
    rules) and as the staged equivalence oracle of the document ingest.
    Document ingest does not go through it:
    `plans/web.py::ingest_warc_plan` parses, gates and extracts in one
    Python pass over the same ``binaryFile`` frame, so each record
    crosses into Python once.

    Plan shape: ``binaryFile`` scan (PATH + LENGTH pruned — content is
    only materialized inside the task) → one Arrow-batched
    ``mapInPandas`` parsing each task's files. No shuffle; downstream
    filters on (content_type, http_status) stay in the same stage.

    ``chunk_bytes`` bounds per-task memory: a pandas frame is flushed
    every time the accumulated PAYLOAD bytes cross this threshold, so
    the parse never holds a whole file's decompressed records (~4-5×
    the .gz size at crawl compression ratios) in one list + frame.
    """
    import pandas as pd

    wanted = frozenset(record_types)

    def _parse(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                yield from parse_warc_file_chunks(
                    str(path), bytes(content), wanted, chunk_bytes
                )

    return (
        warc_files(spark, path_glob)
        .select("path", "content")
        .mapInPandas(_parse, WARC_SCHEMA)
    )


def warc_files(spark: SparkSession, path_glob: str) -> DataFrame:
    """The ``binaryFile`` frame of every ``*.warc*`` file under
    ``path_glob`` — one row per file, parsed inside the task."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc*")
        .load(path_glob)
    )


def read_warc_ranges(
    spark: SparkSession,
    manifest: DataFrame,
    record_types: tuple[str, ...] = ("response", "conversion"),
    filename_col: str = "filename",
    offset_col: str = "offset",
    length_col: str = "length",
    base_dir: str | None = None,
    opener: Callable[[str], BinaryIO] | None = None,
) -> DataFrame:
    """Selective WARC fetch (r14): read ONLY the byte ranges a CDX
    fetch manifest names — ``(filename, offset, length)`` per capture,
    the CDX convention where offset/length are the gzip MEMBER's
    COMPRESSED range — and parse just those records. This is the
    second half of the plan-then-fetch pattern (`cli cdx-plan` emits
    the manifest): at 100 TB, touching 0.1% of a crawl must cost 0.1%
    of a crawl, which a whole-file reader can never do.

    Plan shape: the manifest repartitions by filename and sorts by
    offset within partitions (ONE exchange — each task then reads its
    files' ranges in ascending-seek order, one open per file run), then
    one Arrow-batched mapInPandas seeks/reads/gunzips each member and
    parses it with the SAME incremental parser as `read_warc`.
    ``record_offset`` is the manifest's COMPRESSED offset (unique per
    member, so ``xxhash64(warc_file, record_offset)`` doc ids stay
    collision-free and stable across whole-file vs ranged reads of the
    same member is NOT guaranteed — ids are read-path-scoped, the url
    is the cross-path key). Files are opened via ``opener`` (r15,
    VERDICT r14 #5): any picklable ``path -> binary file-like``
    callable — the seam where an object-store deployment plugs its
    fsspec/s3 ranged-read client in as a PARAMETER instead of a
    patch. Default is builtin ``open`` for local/POSIX paths (a
    ``file:`` prefix is stripped either way). The task keeps ONE
    handle per consecutive file run (the manifest arrives
    filename-partitioned and offset-sorted), so a remote opener pays
    one connection per file, not per record.
    ``base_dir`` resolves RELATIVE manifest filenames (real Common
    Crawl CDX carries paths relative to the crawl root, e.g.
    ``crawl-data/CC-MAIN-.../....warc.gz``) against a local mirror —
    absolute filenames pass through untouched.
    Plain (non-.gz) WARC ranges are sliced verbatim."""
    import gzip

    import pandas as pd
    from pyspark.sql import functions as F

    wanted = frozenset(record_types)
    open_fn = opener if opener is not None else _default_opener
    plan = manifest.select(
        F.col(filename_col).alias("f"),
        F.col(offset_col).cast("long").alias("o"),
        F.col(length_col).cast("long").alias("n"),
    ).repartition(F.col("f")).sortWithinPartitions("f", "o")

    def _fetch(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import io

        fh = None
        fh_name = None
        try:
            for pdf in batches:
                rows = []
                for f, o, n in zip(pdf["f"], pdf["o"], pdf["n"]):
                    name = str(f)
                    path = name[5:] if name.startswith("file:") else name
                    if base_dir and not path.startswith("/"):
                        path = f"{base_dir.rstrip('/')}/{path}"
                    if fh is None or fh_name != path:
                        if fh is not None:
                            fh.close()
                        fh = open_fn(path)
                        fh_name = path
                    fh.seek(int(o))
                    blob = fh.read(int(n))
                    if len(blob) != int(n):
                        raise WarcFormatError(
                            f"{name}: ranged read at {o} wanted {n} "
                            f"bytes, got {len(blob)} (stale manifest?)"
                        )
                    data = (
                        gzip.decompress(blob)
                        if path.endswith(".gz")
                        else blob
                    )
                    for r in parse_warc_stream(io.BytesIO(data), name):
                        if r["warc_type"] not in wanted:
                            continue
                        # compressed member offset — unique per record
                        # in one-record-per-member layouts (Common
                        # Crawl's); multi-record members disambiguate
                        # by adding the in-member offset
                        r["record_offset"] = int(o) + r["record_offset"]
                        rows.append(r)
                if rows:
                    yield pd.DataFrame(rows)
        finally:
            if fh is not None:
                fh.close()

    return plan.mapInPandas(_fetch, WARC_SCHEMA)
