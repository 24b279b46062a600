"""The web chain does each row's work once.

Two operators used to repeat a row's work: the Gopher features, whose
word-array lambdas the curation funnel's pushed-down ``keep`` filter
re-evaluated once per inlined reference, and the whole-file WARC
ingest, which crossed into Python twice per record (parse, then
extract). Each rewrite is pinned here row for row against the shape it
replaced, and by the plan property that makes it cheaper.
"""

from __future__ import annotations

import gzip
import os
import re

import pytest
from conftest import SF_DIR
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from imitation_learning_data_pipeline_spark.functions.rounding import quantize
from imitation_learning_data_pipeline_spark.functions.text import clean_words
from imitation_learning_data_pipeline_spark.plans.text import (
    _GOPHER_REQ_STOPWORDS,
    gopher_rules,
)

SF01_DOCS = os.path.join(os.path.dirname(SF_DIR), "sf0.01", "documents.parquet")


def _gopher_rules_lambda(docs, min_required_stopwords=2, passthrough=()):
    """The word-array formulation gopher_rules replaced, verbatim: the
    row-identity reference for the scalar one."""
    arr = docs.select(
        "doc_id",
        *passthrough,
        F.filter(
            F.split(F.col("text"), "[ \t\n\r]+"), lambda x: x != ""
        ).alias("w"),
        clean_words("text").alias("cw"),
        F.split(F.col("text"), "\n").alias("lines"),
        (
            (F.length("text") - F.length(F.expr("replace(text, '#', '')")))
            .cast("long")
            + (
                (F.length("text") - F.length(F.expr("replace(text, '...', '')")))
                / 3
            ).cast("long")
        ).alias("n_sym"),
    )
    nw = F.greatest(F.size("w"), F.lit(1))
    nl = F.greatest(F.size("lines"), F.lit(1))
    feats = arr.select(
        "doc_id",
        *passthrough,
        F.size("w").cast("long").alias("n_words"),
        (
            F.coalesce(
                F.aggregate(
                    "w", F.lit(0).cast("long"), lambda a, x: a + F.length(x)
                ),
                F.lit(0),
            ).cast("double")
            / nw
        ).alias("mean_word_len_raw"),
        (F.col("n_sym").cast("double") / nw).alias("symbol_ratio_raw"),
        (
            F.size(F.filter("lines", lambda l: F.trim(l).rlike("^[-*]")))
            .cast("double")
            / nl
        ).alias("bullet_frac_raw"),
        (
            F.size(F.filter("lines", lambda l: F.trim(l).endswith("...")))
            .cast("double")
            / nl
        ).alias("ellipsis_frac_raw"),
        (
            F.size(F.filter("w", lambda x: x.rlike("[A-Za-z]")))
            .cast("double")
            / nw
        ).alias("alpha_frac_raw"),
        F.size(
            F.filter(
                F.array(*[F.lit(s) for s in _GOPHER_REQ_STOPWORDS]),
                lambda s: F.array_contains(F.col("cw"), s),
            )
        )
        .cast("long")
        .alias("n_req_stopwords"),
    )
    r_wc = F.col("n_words").between(50, 100000)
    r_mwl = (F.col("mean_word_len_raw") >= 3) & (F.col("mean_word_len_raw") <= 10)
    r_sym = F.col("symbol_ratio_raw") <= 0.1
    r_bul = F.col("bullet_frac_raw") <= 0.9
    r_ell = F.col("ellipsis_frac_raw") <= 0.3
    r_alpha = F.col("alpha_frac_raw") >= 0.8
    r_stop = F.col("n_req_stopwords") >= min_required_stopwords
    return feats.select(
        "doc_id",
        *passthrough,
        "n_words",
        quantize("mean_word_len_raw", 4).alias("mean_word_len"),
        quantize("symbol_ratio_raw", 4).alias("symbol_word_ratio"),
        quantize("bullet_frac_raw", 4).alias("bullet_line_frac"),
        quantize("ellipsis_frac_raw", 4).alias("ellipsis_line_frac"),
        quantize("alpha_frac_raw", 4).alias("alpha_word_frac"),
        "n_req_stopwords",
        r_wc.alias("r_word_count"),
        r_mwl.alias("r_mean_word_len"),
        r_sym.alias("r_symbol_ratio"),
        r_bul.alias("r_bullet_lines"),
        r_ell.alias("r_ellipsis_lines"),
        r_alpha.alias("r_alpha_words"),
        r_stop.alias("r_stopwords"),
        (r_wc & r_mwl & r_sym & r_bul & r_ell & r_alpha & r_stop).alias("keep"),
    )


_PROSE = (
    "The team chose to work with care and that focus has been good for "
    "all of the people who have to be part of it. "
) * 4

ADVERSARIAL = [
    (0, None),
    (1, ""),
    (2, "   "),
    (3, "\t\r\n"),
    (4, "\x0bword\x0b and\x0b\x0bthe be"),
    (5, "𝔘𝔫𝔦𝔠𝔬𝔡𝔢 😀 the 𝟙𝟚 and with 🎉🎉"),
    (6, "café naïve résumé the to of ÀÉÎ ñ"),
    (7, "..."),
    (8, "wait... what...\n...\n#tag ## ### a#b"),
    (9, "# heading\n- bullet\n* star\n   - indented\n-\n*"),
    (10, "the line\r\nof text...\r\n- item\r\n\r\n"),
    (11, "The BE to-of AND that_have with"),
    (12, "123 456 789 ___ --- ... !!!"),
    (13, "a  b   c\t\td\n\ne\r\rf"),
    (14, _PROSE),
    (15, _PROSE + "\n- one bullet\nends here..."),
    (16, " leading and trailing whitespace "),
    (17, "ǅungla Ⅻ ﬁne ß the have"),
]


def _adversarial(spark) -> DataFrame:
    return spark.createDataFrame(ADVERSARIAL, "doc_id long, text string")


def _assert_identical(want: DataFrame, got: DataFrame) -> int:
    assert want.dtypes == got.dtypes
    a = sorted(map(tuple, want.collect()), key=repr)
    b = sorted(map(tuple, got.collect()), key=repr)
    assert a == b
    return len(a)


class TestGopherScalarFeatures:
    @pytest.mark.parametrize("min_req", [0, 1, 2])
    def test_row_identity_on_documents(self, spark, min_req):
        docs = spark.read.parquet(SF01_DOCS).select("doc_id", "text")
        n = _assert_identical(
            _gopher_rules_lambda(docs, min_req, passthrough=("text",)),
            gopher_rules(docs, min_req, passthrough=("text",)),
        )
        assert n == docs.count() > 0

    @pytest.mark.parametrize("min_req", [0, 1, 2])
    def test_row_identity_on_adversarial_text(self, spark, min_req):
        docs = _adversarial(spark)
        assert _assert_identical(
            _gopher_rules_lambda(docs, min_req),
            gopher_rules(docs, min_req),
        ) == len(ADVERSARIAL)

    @pytest.mark.parametrize("min_req", [0, 1, 2])
    def test_row_identity_under_the_keep_filter(self, spark, min_req):
        """The shape that made the lambdas expensive: keep pushed below
        the feature projections."""
        docs = _adversarial(spark).unionByName(
            spark.read.parquet(SF01_DOCS).select("doc_id", "text")
        )

        def kept(fn):
            return (
                fn(docs, min_req, passthrough=("text",))
                .filter(F.col("keep"))
                .select("doc_id", "text")
            )

        assert _assert_identical(
            kept(_gopher_rules_lambda), kept(gopher_rules)
        ) > 0

    def test_null_text_row(self, spark):
        r = gopher_rules(_adversarial(spark)).filter("doc_id = 0").first()
        assert r["mean_word_len"] == 0.0
        assert r["n_req_stopwords"] == 0
        assert r["keep"] is False

    def test_funnel_filter_has_no_word_array_lambda(self, spark):
        """The funnel's gopher Filter reads scalar word features: the
        word-array split lambda and the summing aggregate are gone (the
        parent plan inlined both into the Filter, ~9 splits per row)."""
        from imitation_learning_data_pipeline_spark.plans.curation import (
            curation_funnel,
        )

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        cur, _ = curation_funnel(docs, stages=("gopher",), report=False)
        # the [ \t\n\r] class prints with literal control characters,
        # so match on the whole (id-stripped) plan, not per line
        plan = re.sub(
            r"#\d+L?", "",
            cur._jdf.queryExecution().executedPlan().toString(),
        )
        assert "Filter" in plan
        assert "filter(split(text, [ \t\n\r]+" not in plan
        assert "aggregate(" not in plan
        assert "regexp_extract_all(text, [^ \t\n\r]+" in plan


# --- whole-file WARC ingest: one Python pass per record ----------------------


def _record(warc_type, uri, block, content_type):
    head = (
        "WARC/1.0\r\n"
        f"WARC-Type: {warc_type}\r\n"
        "WARC-Record-ID: <urn:t:1>\r\n"
        "WARC-Date: 2026-01-01T00:00:00Z\r\n"
        f"WARC-Target-URI: {uri}\r\n"
        f"Content-Type: {content_type}\r\n"
        f"Content-Length: {len(block)}\r\n\r\n"
    ).encode()
    return head + block + b"\r\n\r\n"


def _response(uri, body, ctype=b"text/html", status=b"200 OK", extra=b""):
    block = (
        b"HTTP/1.1 " + status + b"\r\nContent-Type: " + ctype + b"\r\n"
        + extra + b"\r\n" + body
    )
    return _record(
        "response", uri, block, "application/http; msgtype=response"
    )


def _conversion(uri, text, ctype="text/plain"):
    return _record("conversion", uri, text.encode("utf-8"), ctype)


_EN = (
    "<p>The committee reviewed all of the proposals and decided that they "
    "would have to publish the findings because the community was waiting "
    "for an answer about the policy and how it would be applied.</p>"
)
_DE = (
    "<p>Der Ausschuss hat die Vorschläge geprüft und ist der Meinung, dass "
    "die Ergebnisse mit der Gemeinschaft und für die Öffentlichkeit noch "
    "in diesem Jahr veröffentlicht werden sollen, weil sie darauf "
    "warten.</p>"
)
_NAV = '<nav><a href="/">home</a> <a href="/x">x</a></nav>'
_FARM = "".join(f'<a href="/{i}">link {i}</a> ' for i in range(20))


def _chunked(body: bytes) -> bytes:
    return b"%x\r\n" % len(body) + body + b"\r\n0\r\n\r\n"


def _mixed_crawl(d) -> str:
    """Every record-gate and extractor branch in two files (one .gz,
    one plain): statuses, codings, charsets, content types, record
    types, duplicate / blank / normalizable urls, main-content pages
    in two languages, WET conversions."""
    d.mkdir()
    html = lambda body: f"<html><body>{body}</body></html>".encode()  # noqa: E731
    gz_records = [
        _response("http://a.test/1", html(_NAV + _EN),
                  b"text/html; charset=utf-8"),
        _response("http://a.test/1", html(_EN + _EN)),
        _response("HTTP://Example.COM:80/p#frag", html(_EN)),
        _response("http://example.com/p?utm_source=feed", html(_DE)),
        _response("http://b.test/latin", "<p>café über</p>".encode("latin-1"),
                  b"TEXT/HTML; charset=ISO-8859-1"),
        _response("http://b.test/404", html(_EN), status=b"404 Not Found"),
        _response("http://b.test/br", b"\x1b\x00compressed",
                  extra=b"Content-Encoding: br\r\n"),
        _response("http://b.test/zip", gzip.compress(html(_EN)),
                  extra=b"Content-Encoding: gzip\r\n"),
        _response("http://b.test/chunk", _chunked(html(_DE)),
                  extra=b"Transfer-Encoding: chunked\r\n"),
        _response("http://b.test/plain", b"just text", b"text/plain"),
        _response("http://b.test/farm", html(_FARM + "<p>tiny</p>")),
        _response("", html(_EN)),
        _response("", html(_DE)),
        _response("http://b.test/bad", html(_EN), status=b"garbage"),
        _record("request", "http://a.test/1", b"GET / HTTP/1.1\r\n\r\n",
                "application/http; msgtype=request"),
        _record("metadata", "http://a.test/1", b'{"k": 1}',
                "application/json"),
        _conversion("http://w.test/1", "first fetch <p> & text"),
        _conversion("http://w.test/1", "second fetch"),
        _conversion("", "no url"),
        _conversion("HTTP://W.test:80/2#x", "normalizable"),
        _conversion("http://w.test/html", "<b>x</b>", ctype="text/html"),
    ]
    with open(d / "seg0.warc.gz", "wb") as fh:
        for rec in gz_records:
            fh.write(gzip.compress(rec))
    with open(d / "seg1.warc", "wb") as fh:
        fh.write(_response("http://c.test/plainfile", html(_NAV + _DE)))
        fh.write(_conversion("http://c.test/wet", "plain file conversion"))
        fh.write(_response("http://a.test/1", html("<p>third copy</p>")))
    return str(d)


def _staged(spark, path, **kw):
    """The equivalence oracle: the records-frame ingest
    (ingest_warc_records / ingest_wet_records) over read_warc."""
    from imitation_learning_data_pipeline_spark.plans.web import ingest_records
    from imitation_learning_data_pipeline_spark.sources.warc import read_warc

    wet = kw.get("wet", False)
    types = ("conversion",) if wet else ("response",)
    return ingest_records(read_warc(spark, path, record_types=types), **kw)


def _mapinpandas_nodes(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0].count("MapInPandas")


_CASES = {
    "html": {},
    "html-no-content-type": {"content_type": None},
    "html-charset-param": {"content_type": "text/html; charset=utf-8"},
    "html-link-density": {"max_link_density": 0.3},
    "html-dedup": {"dedup_url": True},
    "html-dedup-normalize": {"dedup_url": True, "normalize_urls": True},
    "html-normalize": {"normalize_urls": True},
    "main": {"main_content": True},
    "main-de": {"main_content": True, "main_content_lang": "de"},
    "main-dedup-normalize": {
        "main_content": True, "dedup_url": True, "normalize_urls": True,
    },
    "wet": {"wet": True},
    "wet-no-content-type": {"wet": True, "content_type": None},
    "wet-dedup-normalize": {
        "wet": True, "dedup_url": True, "normalize_urls": True,
    },
}


class TestOnePassWholeFileIngest:
    @pytest.mark.parametrize("kw", _CASES.values(), ids=_CASES.keys())
    def test_row_identity_vs_staged(self, spark, tmp_path, kw):
        from imitation_learning_data_pipeline_spark.plans.web import (
            ingest_warc_plan,
        )

        crawl = _mixed_crawl(tmp_path / "crawl")
        got = ingest_warc_plan(spark, crawl, **kw)
        assert _mapinpandas_nodes(got) == 1
        staged = _staged(spark, crawl, **kw)
        assert staged.dtypes == got.dtypes
        a = sorted(map(tuple, staged.collect()), key=repr)
        b = sorted(map(tuple, got.collect()), key=repr)
        assert a == b and len(a) > 0

    @pytest.mark.parametrize(
        "kw",
        [{}, {"main_content": True}, {"max_link_density": 0.3}, {"wet": True}],
        ids=["html", "main", "html-link-density", "wet"],
    )
    def test_row_identity_on_generated_corpus(self, spark, tmp_path, kw):
        from imitation_learning_data_pipeline_spark.plans.web import (
            build_warc_corpus,
            ingest_warc_plan,
        )

        corpus = build_warc_corpus(
            SF_DIR, out_root=str(tmp_path / "c"),
            kind="conversion" if kw.get("wet") else "response",
        )
        got = ingest_warc_plan(spark, corpus, **kw)
        staged = _staged(spark, corpus, **kw)
        assert staged.dtypes == got.dtypes
        a = sorted(map(tuple, staged.collect()), key=repr)
        assert a == sorted(map(tuple, got.collect()), key=repr)
        assert len(a) > 100

    @pytest.mark.parametrize(
        "kw", [{}, {"wet": True}, {"main_content": True}],
        ids=["html", "wet", "main_content"],
    )
    def test_one_python_map_per_record(self, spark, tmp_path, kw):
        """Parse, gate and extract share one mapInPandas: one Python
        worker per task, where parse-then-extract held two."""
        from imitation_learning_data_pipeline_spark.plans.web import (
            build_warc_corpus,
            ingest_warc_plan,
        )

        corpus = build_warc_corpus(
            SF_DIR, out_root=str(tmp_path / "c"),
            kind="conversion" if kw.get("wet") else "response",
        )
        for dedup in (False, True):
            df = ingest_warc_plan(spark, corpus, dedup_url=dedup, **kw)
            assert _mapinpandas_nodes(df) == 1
            assert "Scan binaryFile" in df._jdf.queryExecution().executedPlan().toString()

    def test_refusals_before_any_read(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.plans.web import (
            ingest_warc_files,
            ingest_warc_plan,
        )

        missing = str(tmp_path / "does-not-exist")
        with pytest.raises(ValueError, match="already"):
            ingest_warc_plan(spark, missing, wet=True, max_link_density=0.5)
        with pytest.raises(ValueError, match="only applies"):
            ingest_warc_plan(spark, missing, main_content_lang="de")
        with pytest.raises(ValueError, match="pass one or the other"):
            ingest_warc_plan(
                spark, missing, main_content=True, max_link_density=0.5
            )
        # an indexed input used to take the index shape without the
        # refusal the whole-file shape applies
        from imitation_learning_data_pipeline_spark.plans.web import (
            build_warc_corpus,
        )

        indexed = build_warc_corpus(
            SF_DIR, out_root=str(tmp_path / "c"), index=True
        )
        with pytest.raises(ValueError, match="only applies"):
            ingest_warc_plan(
                spark, indexed, dedup_url=True, main_content_lang="de"
            )
        files = spark.createDataFrame([], "path string, content binary")
        with pytest.raises(ValueError, match="no stopword list"):
            ingest_warc_files(files, main_content=True, main_content_lang="xx")

    def test_gate_extract_frames_are_bounded(self, tmp_path):
        """The one pass flushes a frame every chunk_bytes of record
        payload, like read_warc: many small frames, same rows."""
        from imitation_learning_data_pipeline_spark.plans.web import (
            _gate_extract,
        )
        from imitation_learning_data_pipeline_spark.sources.warc import (
            warc_file_records,
        )

        crawl = _mixed_crawl(tmp_path / "crawl")
        path = f"{crawl}/seg0.warc.gz"
        content = open(path, "rb").read()

        def run(chunk_bytes):
            _, frames = _gate_extract(False, "text/html", chunk_bytes=chunk_bytes)
            return list(frames(warc_file_records(path, content)))

        small, whole = run(1), run(1 << 40)
        assert len(whole) == 1 and len(small) == len(whole[0]) > 1
        rows = [tuple(r) for f in small for r in f.itertuples(index=False)]
        assert rows == [tuple(r) for r in whole[0].itertuples(index=False)]
