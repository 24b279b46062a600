"""Round-14 surfaces: language-safe main-content extraction (per-page
stopword pick + the no-signal guard), the streaming main-content arm,
null-URL dedup self-keying, and the stale-corpus rebuild sweep."""

import importlib.util
import json
import os

import pytest

from tests.test_round12_ops import _http_response, _warc_record
from tests.test_round13_ops import _write_warc_gz

GERMAN = (
    "Die Kommission hat alle Vorschläge geprüft und entschieden, dass die "
    "Ergebnisse veröffentlicht werden müssen, weil die Gemeinschaft auf "
    "eine Antwort über die Richtlinie wartet und wie sie auf die Fälle "
    "angewendet wird, die seit Beginn des Jahres offen sind."
)
FRENCH = (
    "Le comité a examiné toutes les propositions et a décidé que les "
    "résultats devraient être publiés parce que la communauté attendait "
    "une réponse sur la politique et sur la manière dont elle serait "
    "appliquée aux dossiers qui sont ouverts depuis le début de l'année."
)
ENGLISH = (
    "the committee reviewed all of the proposals and decided that they "
    "would have to publish the findings because the community was waiting "
    "for an answer about the policy and how it would be applied to the "
    "cases that have been open since the start of the year"
)
CJK = (
    "委員會審查了所有提案並決定必須公佈結果因為社區正在等待關於政策的"
    "答覆以及它將如何應用於自年初以來一直懸而未決的案件"
) * 3

_NAV = (
    '<nav><a href="/">home</a> <a href="/a">about</a> '
    '<a href="/b">contact</a> <a href="/c">pricing</a></nav>'
)


def _page(body_paras):
    paras = "".join(f"<p>{p}</p>" for p in body_paras)
    return (
        f"<html><head><title>T</title></head><body>{_NAV}{paras}"
        "<footer>© 2026 example corp</footer></body></html>"
    )


class TestMainContentLanguages:
    """VERDICT r13 #1: non-English prose must survive --main-content —
    per-page stopword-language pick, pinned lang, and the zero-signal
    fallback that flags instead of emptying."""

    def test_german_prose_retained(self):
        from imitation_learning_data_pipeline_spark.operators.html_text import (
            extract_main_text,
        )

        long_de = GERMAN + (
            " Und der Bericht wurde rechtzeitig veröffentlicht und alle "
            "waren mit dem Ergebnis zufrieden."
        )
        out = extract_main_text(_page([GERMAN, long_de]))
        assert out["stopword_lang"] == "de"
        assert out["no_stopword_signal"] is False
        assert out["n_good_blocks"] == 2
        assert out["main_text"].startswith("Die Kommission")
        assert "home" not in out["main_text"]
        assert "©" not in out["main_text"]

    def test_french_prose_retained(self):
        from imitation_learning_data_pipeline_spark.operators.html_text import (
            extract_main_text,
        )

        out = extract_main_text(_page([FRENCH, FRENCH]))
        assert out["stopword_lang"] == "fr"
        assert out["n_good_blocks"] == 2
        assert "Le comité" in out["main_text"]

    def test_english_unchanged(self):
        from imitation_learning_data_pipeline_spark.operators.html_text import (
            extract_main_text,
        )

        out = extract_main_text(
            _page([ENGLISH, ENGLISH + " and the report was published"])
        )
        assert out["stopword_lang"] == "en"
        assert out["n_good_blocks"] == 2

    def test_cjk_flagged_and_kept(self):
        """No stopword list fits → language-independent rules: the
        link-dense nav and the copyright footer still drop, the prose
        blocks are KEPT, and the flag marks the degraded labels."""
        from imitation_learning_data_pipeline_spark.operators.html_text import (
            extract_main_text,
        )

        out = extract_main_text(_page([CJK, CJK]))
        assert out["no_stopword_signal"] is True
        assert out["stopword_lang"] is None
        assert CJK[:20] in out["main_text"]
        assert "home" not in out["main_text"]
        assert "©" not in out["main_text"]
        assert out["n_good_blocks"] == 2

    def test_pinned_wrong_lang_falls_back_not_empties(self):
        """lang='en' forced on a German page: density under the pinned
        list is ~0 → the guard kicks in — the pre-r14 behavior (empty
        main_text) must never come back."""
        from imitation_learning_data_pipeline_spark.operators.html_text import (
            extract_main_text,
        )

        out = extract_main_text(_page([GERMAN, GERMAN]), lang="en")
        assert out["no_stopword_signal"] is True
        assert "Die Kommission" in out["main_text"]

    def test_pinned_lang_applies(self):
        from imitation_learning_data_pipeline_spark.operators.html_text import (
            extract_main_text,
        )

        out = extract_main_text(_page([GERMAN, GERMAN]), lang="de")
        assert out["stopword_lang"] == "de"
        assert out["no_stopword_signal"] is False
        assert out["n_good_blocks"] == 2

    def test_custom_stopwords(self):
        from imitation_learning_data_pipeline_spark.operators.html_text import (
            extract_main_text,
        )

        out = extract_main_text(
            _page([ENGLISH]), stopwords=frozenset(ENGLISH.split())
        )
        assert out["stopword_lang"] == "custom"
        assert out["n_good_blocks"] == 1
        with pytest.raises(ValueError, match="not both"):
            extract_main_text("x", lang="en", stopwords=frozenset({"a"}))

    def test_unknown_lang_rejected_driver_side(self, spark):
        from imitation_learning_data_pipeline_spark.operators.html_text import (
            extract_main_content,
            extract_main_text,
        )

        with pytest.raises(ValueError, match="no stopword list"):
            extract_main_text("x", lang="xx")
        df = spark.createDataFrame([(1, "<p>x</p>")], "doc_id long, html string")
        # plan-build-time failure, not a task-time Python exception
        with pytest.raises(ValueError, match="no stopword list"):
            extract_main_content(df, lang="xx")

    def test_pick_stopword_lang_edges(self):
        from imitation_learning_data_pipeline_spark.operators.html_text import (
            pick_stopword_lang,
        )

        assert pick_stopword_lang([]) == (None, 0.0)
        lang, density = pick_stopword_lang([(GERMAN, 0)])
        assert lang == "de" and density > 0.2
        # ties break by map order: a single shared function word →
        # deterministic first-listed language, never a random winner
        lang, _ = pick_stopword_lang([("in", 0)])  # in ∈ en and de
        assert lang == "en"


class TestIngestMainContentLang:
    def test_cli_lang_pin_and_columns(self, spark, tmp_path, capsys):
        from imitation_learning_data_pipeline_spark.cli import main

        d = tmp_path / "crawl"
        d.mkdir()
        page = _page([GERMAN, GERMAN]).encode()
        _write_warc_gz(
            str(d / "s0.warc.gz"),
            [_warc_record("response", "http://de.test/", _http_response(page))],
        )
        out = str(tmp_path / "docs")
        assert main([
            "ingest-warc", "--input", str(d), "--out", out,
            "--main-content", "--main-content-lang", "de",
        ]) == 0
        rows = spark.read.parquet(out).collect()
        assert len(rows) == 1
        r = rows[0]
        assert r["stopword_lang"] == "de"
        assert r["no_stopword_signal"] is False
        assert "Die Kommission" in r["text"]
        assert "home" not in r["text"]

    def test_cli_auto_detects_per_page(self, spark, tmp_path, capsys):
        """One crawl, mixed languages: each page gets its own list —
        the failure mode this round fixes is exactly 'the German half
        of the crawl comes back empty'."""
        from imitation_learning_data_pipeline_spark.cli import main

        d = tmp_path / "crawl"
        d.mkdir()
        _write_warc_gz(
            str(d / "s0.warc.gz"),
            [
                _warc_record(
                    "response", "http://en.test/",
                    _http_response(_page([ENGLISH, ENGLISH]).encode()),
                ),
                _warc_record(
                    "response", "http://de.test/",
                    _http_response(_page([GERMAN, GERMAN]).encode()),
                ),
            ],
        )
        out = str(tmp_path / "docs")
        assert main([
            "ingest-warc", "--input", str(d), "--out", out, "--main-content",
        ]) == 0
        rows = {r["url"]: r for r in spark.read.parquet(out).collect()}
        assert rows["http://en.test/"]["stopword_lang"] == "en"
        assert rows["http://de.test/"]["stopword_lang"] == "de"
        assert rows["http://de.test/"]["text"] != ""
        assert not rows["http://de.test/"]["no_stopword_signal"]

    def test_lang_without_main_content_rejected(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.cli import main
        from imitation_learning_data_pipeline_spark.plans.web import (
            ingest_warc_plan,
        )

        with pytest.raises(SystemExit, match="only applies"):
            main([
                "ingest-warc", "--input", str(tmp_path), "--out",
                str(tmp_path / "o"), "--main-content-lang", "de",
            ])
        with pytest.raises(ValueError, match="only applies"):
            ingest_warc_plan(spark, str(tmp_path), main_content_lang="de")


class TestStreamingMainContent:
    def test_streaming_arm_gets_the_mode(self, spark, tmp_path):
        """VERDICT r13 #2: run_incremental_warc_ingest(main_content=True)
        emits the SAME main-content schema as the batch verb, across
        micro-batches."""
        from imitation_learning_data_pipeline_spark.streaming.warc_stream import (
            run_incremental_warc_ingest,
        )

        land = tmp_path / "landing"
        land.mkdir()
        docs = str(tmp_path / "docs")
        ckpt = str(tmp_path / "ckpt")
        _write_warc_gz(
            str(land / "seg0.warc.gz"),
            [
                _warc_record(
                    "response", "http://en.test/",
                    _http_response(_page([ENGLISH, ENGLISH]).encode()),
                )
            ],
        )
        run_incremental_warc_ingest(
            spark, str(land), docs, ckpt, main_content=True
        )
        first = spark.read.parquet(docs).collect()
        assert len(first) == 1
        assert first[0]["stopword_lang"] == "en"
        assert first[0]["n_good_blocks"] == 2
        assert "home" not in first[0]["text"]

        # second arrival: a German segment, auto-detected per page
        _write_warc_gz(
            str(land / "seg1.warc.gz"),
            [
                _warc_record(
                    "response", "http://de.test/",
                    _http_response(_page([GERMAN, GERMAN]).encode()),
                )
            ],
        )
        run_incremental_warc_ingest(
            spark, str(land), docs, ckpt, main_content=True
        )
        rows = {r["url"]: r for r in spark.read.parquet(docs).collect()}
        assert set(rows) == {"http://en.test/", "http://de.test/"}
        assert rows["http://de.test/"]["stopword_lang"] == "de"
        assert rows["http://de.test/"]["text"].startswith("Die Kommission")


class TestDedupNullUrlSelfKey:
    def test_null_urls_each_survive(self, spark):
        """ADVICE r13: url IS NULL must self-key like url == '' — the
        otherwise(0) branch was collapsing ALL null-url pages into one
        survivor."""
        from imitation_learning_data_pipeline_spark.plans.web import (
            _dedup_by_url,
        )

        df = spark.createDataFrame(
            [
                (1, None, "a"),
                (2, None, "b"),
                (3, "", "c"),
                (4, "", "d"),
                (5, "http://x/", "e"),
                (6, "http://x/", "f"),
            ],
            "doc_id long, url string, text string",
        )
        rows = _dedup_by_url(df, ("doc_id", "text")).collect()
        # null and empty urls each survive; the real dup collapses
        assert sorted(r["doc_id"] for r in rows) == [1, 2, 3, 4, 6]


class TestWetIngest:
    """VERDICT r13 #4: WET conversion payloads are ALREADY text — the
    wet arm maps payload→text verbatim (JVM decode), with no HTML
    extractor stage in the plan."""

    def _wet(self, d, name, pages):
        _write_warc_gz(
            str(d / name),
            [
                _warc_record(
                    "conversion", url, text.encode("utf-8"),
                    content_type="text/plain",
                    record_id=f"<urn:wet:{i}>",
                )
                for i, (url, text) in enumerate(pages)
            ],
        )

    def test_wet_text_verbatim_no_extractor_stage(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.plans.web import (
            ingest_warc_plan,
        )

        d = tmp_path / "wet"
        d.mkdir()
        # WET text with markup-looking content: must survive VERBATIM —
        # an HTML extractor would eat the angle brackets
        t1 = "Line one.\nLine <two> & three."
        t2 = GERMAN
        self._wet(d, "seg0.warc.wet.gz", [
            ("http://a.test/", t1),
            ("http://b.test/", t2),
        ])
        df = ingest_warc_plan(spark, str(d), wet=True)
        rows = {r["url"]: r for r in df.collect()}
        assert rows["http://a.test/"]["text"] == t1
        assert rows["http://b.test/"]["text"] == t2
        assert rows["http://a.test/"]["text_chars"] == len(t1)
        # exactly ONE mapInPandas in the plan: the WARC parse — no
        # second extraction stage for pre-extracted text
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInPandas") == 1

    def test_wet_cli_with_dedup(self, spark, tmp_path, capsys):
        from imitation_learning_data_pipeline_spark.cli import main

        d = tmp_path / "wet"
        d.mkdir()
        self._wet(d, "seg0.warc.wet.gz", [
            ("http://dup.test/", "first fetch"),
            ("http://dup.test/", "second fetch"),
            ("http://other.test/", "only one"),
        ])
        out = str(tmp_path / "docs")
        assert main([
            "ingest-warc", "--input", str(d), "--out", out,
            "--wet", "--dedup-url",
        ]) == 0
        rows = spark.read.parquet(out).collect()
        assert sorted(r["url"] for r in rows) == [
            "http://dup.test/", "http://other.test/"
        ]
        # doc_id winner is deterministic (max over (file, offset) hash)
        assert {r["url"] for r in rows} == {
            "http://dup.test/", "http://other.test/"
        }

    def test_wet_ignores_response_records_and_html_gates(
        self, spark, tmp_path
    ):
        from imitation_learning_data_pipeline_spark.cli import main
        from imitation_learning_data_pipeline_spark.plans.web import (
            ingest_warc_plan,
        )

        d = tmp_path / "mixed"
        d.mkdir()
        _write_warc_gz(
            str(d / "s0.warc.gz"),
            [
                _warc_record(
                    "response", "http://html.test/",
                    _http_response(b"<p>html page</p>"),
                ),
                _warc_record(
                    "conversion", "http://wet.test/", b"plain text",
                    content_type="text/plain",
                ),
            ],
        )
        rows = ingest_warc_plan(spark, str(d), wet=True).collect()
        assert [r["url"] for r in rows] == ["http://wet.test/"]
        assert rows[0]["text"] == "plain text"
        with pytest.raises(ValueError, match="already"):
            ingest_warc_plan(spark, str(d), wet=True, main_content=True)
        with pytest.raises(SystemExit, match="HTML gates"):
            main([
                "ingest-warc", "--input", str(d), "--out",
                str(tmp_path / "o"), "--wet", "--max-link-density", "0.5",
            ])


class TestDomainStatsCli:
    def test_census_over_real_ingest_output(self, spark, tmp_path, capsys):
        """VERDICT r13 #5: the domain census runs over REAL ingest-warc
        output, not just synthesized URLs — multi-host domains and the
        text-mass sum come out right end to end."""
        from imitation_learning_data_pipeline_spark.cli import main

        d = tmp_path / "crawl"
        d.mkdir()
        pages = [
            ("http://www.alpha.test/a", "alpha page one words"),
            ("http://blog.alpha.test/b", "alpha page two"),
            ("http://beta.test/c", "beta only page"),
        ]
        _write_warc_gz(
            str(d / "s0.warc.gz"),
            [
                _warc_record("response", url, _http_response(
                    f"<p>{text}</p>".encode()))
                for url, text in pages
            ],
        )
        docs = str(tmp_path / "docs")
        assert main([
            "ingest-warc", "--input", str(d), "--out", docs,
            "--normalize-urls",
        ]) == 0
        capsys.readouterr()
        census_out = str(tmp_path / "census")
        assert main([
            "domain-stats", "--path", docs, "--out", census_out,
            "--top", "10",
        ]) == 0
        lines = [
            json.loads(ln)
            for ln in capsys.readouterr().out.strip().splitlines()
        ]
        summary = lines[-1]
        by_domain = {r["domain"]: r for r in lines[:-1]}
        assert summary["n_domains"] == 2 and summary["n_docs"] == 3
        assert by_domain["alpha.test"]["n_docs"] == 2
        assert by_domain["alpha.test"]["n_hosts"] == 2
        assert by_domain["beta.test"]["n_docs"] == 1
        # text mass = extracted text_chars, summed per domain
        rows = spark.read.parquet(docs).collect()
        expect = sum(
            r["text_chars"] for r in rows if "alpha" in r["url"]
        )
        assert by_domain["alpha.test"]["total_chars"] == expect
        # the full census parquet landed and matches stdout
        persisted = {
            r["domain"]: r for r in spark.read.parquet(census_out).collect()
        }
        assert persisted["alpha.test"]["n_hosts"] == 2

    def test_missing_url_col_rejected(self, spark, tmp_path, capsys):
        from imitation_learning_data_pipeline_spark.cli import main

        p = str(tmp_path / "nourl")
        spark.createDataFrame([(1, "t")], "id long, text string").write.parquet(p)
        with pytest.raises(SystemExit, match="no 'url' column"):
            main(["domain-stats", "--path", p])


class TestCdxSource:
    """sources/cdx.py: the CDX(J) capture-index reader — scan-bound JVM
    parse (the aggregate contract is hash-checked by web_cdx_stats)."""

    LINES = [
        'org,example)/path?q=1 20260101123000 {"url": "http://example.org'
        '/path?q=1", "mime": "text/html", "status": "200", "digest": '
        '"sha1:AB", "length": "12345", "offset": "4567", "filename": '
        '"seg/warc/a.warc.gz"}',
        'uk,co,site,www)/ 20251231235959 {"url": "https://www.site.co.uk/"'
        ', "mime": "application/pdf", "status": "301", "digest": "sha1:CD"'
        ', "length": "99", "offset": "0", "filename": "b.warc.gz"}',
    ]

    def test_typed_fields_and_host_reversal(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.sources.cdx import (
            read_cdxj,
        )

        p = tmp_path / "idx"
        p.mkdir()
        (p / "part0.cdxj").write_text("\n".join(self.LINES) + "\n")
        rows = {
            r["surt_key"]: r
            for r in read_cdxj(spark, str(p)).collect()
        }
        a = rows["org,example)/path?q=1"]
        assert a["host"] == "example.org"
        assert a["mime"] == "text/html" and a["status"] == 200
        assert a["length"] == 12345 and a["offset"] == 4567
        assert a["filename"] == "seg/warc/a.warc.gz"
        assert str(a["ts"]).startswith("2026-01-01 12:30:00")
        b = rows["uk,co,site,www)/"]
        assert b["host"] == "www.site.co.uk"
        assert b["status"] == 301

    def test_gzipped_shards_and_blank_lines(self, spark, tmp_path):
        import gzip

        from imitation_learning_data_pipeline_spark.sources.cdx import (
            read_cdxj,
        )

        p = tmp_path / "idx"
        p.mkdir()
        payload = (self.LINES[0] + "\n\n" + self.LINES[1] + "\n").encode()
        with gzip.open(p / "part0.cdxj.gz", "wb") as fh:
            fh.write(payload)
        assert read_cdxj(spark, str(p)).count() == 2

    def test_malformed_lines_null_not_crash(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.sources.cdx import (
            read_cdxj,
        )

        p = tmp_path / "idx"
        p.mkdir()
        (p / "part0.cdxj").write_text(
            self.LINES[0] + "\n"
            + "only-two fields\n"                       # no json part
            + "com,x)/ notadate {\"url\": \"u\"}\n"     # bad timestamp
            + "com,y)/ 20260101000000 not-json\n"       # broken json
        )
        out = read_cdxj(spark, str(p)).collect()
        assert len(out) == 4
        by_key = {r["surt_key"]: r for r in out}
        assert by_key[None] is not None                  # 2-field line
        assert by_key["com,x)/"]["ts"] is None
        assert by_key["com,x)/"]["url"] == "u"
        assert by_key["com,y)/"]["url"] is None
        # strict mode refuses on the unparseable line
        with pytest.raises(ValueError, match="unparseable"):
            read_cdxj(spark, str(p), strict=True)

    def test_surt_host_edges(self, spark):
        from pyspark.sql import functions as F

        from imitation_learning_data_pipeline_spark.sources.cdx import (
            surt_host,
        )

        df = spark.createDataFrame(
            [("com,example)/x",), ("com,example:8080)/x",), ("noparen",)],
            "k string",
        )
        got = [
            r["h"] for r in df.select(surt_host(F.col("k")).alias("h"))
            .collect()
        ]
        assert got == ["example.com", "example.com", None]


class TestRobots:
    """operators/robots.py: parser (pure function + WARC arm) and the
    JVM verdict plan's edge cases (the bulk verdict contract is
    hash-checked by web_robots_filter)."""

    ROBOTS = (
        "# comment\n"
        "User-agent: *\n"
        "Disallow: /private\n"
        "Allow: /private/ok\n"
        "\n"
        "User-agent: MyBot\n"
        "User-agent: otherbot\n"
        "Disallow: /mybot*\n"
        "Disallow:\n"            # empty = allow-all, no rule row
        "Crawl-delay: 5\n"       # carried directive, no rule row
        "Sitemap: http://x/s.xml\n"
    )

    def test_parse_robots_text(self):
        from imitation_learning_data_pipeline_spark.operators.robots import (
            parse_robots_text,
        )

        rules = parse_robots_text(self.ROBOTS)
        assert ("*", False, "/private") in rules
        assert ("*", True, "/private/ok") in rules
        # the two consecutive user-agent lines share the group
        assert ("mybot", False, "/mybot*") in rules
        assert ("otherbot", False, "/mybot*") in rules
        assert len(rules) == 4
        # rule before any agent line is ignored; empty input ok
        assert parse_robots_text("Disallow: /x\n") == []
        assert parse_robots_text("") == []

    def test_like_pattern_compilation(self):
        from imitation_learning_data_pipeline_spark.operators.robots import (
            _like_pattern,
        )

        assert _like_pattern("/a") == "/a%"
        assert _like_pattern("/a*b") == "/a%b%"
        assert _like_pattern("/a$") == "/a"          # end anchor
        assert _like_pattern("/50%off") == "/50\\%off%"  # LIKE escape
        assert _like_pattern("/a_b") == "/a\\_b%"

    def test_parse_rules_from_warc(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.operators.robots import (
            parse_robots_rules,
        )
        from imitation_learning_data_pipeline_spark.sources.warc import (
            read_warc,
        )

        d = tmp_path / "robots"
        d.mkdir()
        _write_warc_gz(
            str(d / "s0.warc.gz"),
            [
                _warc_record(
                    "response", "http://site.test/robots.txt",
                    _http_response(
                        self.ROBOTS.encode(), ctype=b"text/plain"
                    ),
                )
            ],
        )
        recs = read_warc(spark, str(d)).filter("http_status = 200")
        rules = parse_robots_rules(recs).collect()
        assert {r["host"] for r in rules} == {"site.test"}
        by = {(r["agent"], r["pattern"]): r for r in rules}
        assert by[("*", "/private%")]["allow"] is False
        assert by[("*", "/private%")]["raw_len"] == 8
        # specificity counts the raw pattern minus '$' — '*' included
        assert by[("mybot", "/mybot%")]["raw_len"] == 7

    def test_filter_edges(self, spark):
        """No-rules host → allowed; $ anchor; agent-group scoping."""
        from imitation_learning_data_pipeline_spark.operators.robots import (
            robots_filter,
        )

        pages = spark.createDataFrame(
            [
                (1, "http://ruled.test/exact"),
                (2, "http://ruled.test/exactly-longer"),
                (3, "http://norules.test/anything"),
                (4, "http://ruled.test"),  # no path → '/'
            ],
            "doc_id long, url string",
        )
        rules = spark.createDataFrame(
            [("ruled.test", "*", False, "/exact", 6)],
            "host string, agent string, allow boolean, pattern string, "
            "raw_len int",
        )
        got = {
            r["doc_id"]: r["robots_disallowed"]
            for r in robots_filter(pages, rules).collect()
        }
        # '$'-anchored: '/exact' pattern (no trailing %) matches ONLY
        # the exact path
        assert got == {1: True, 2: False, 3: False, 4: False}
        assert len(got) == 4  # every input row survives, annotated
        # r14 review: reserved working columns refused on the pages side
        with pytest.raises(ValueError, match="collide"):
            robots_filter(
                pages.withColumn("pattern", pages["url"]), rules
            )


class TestSitemap:
    def test_extract_urls_and_index_flag(self, spark):
        from imitation_learning_data_pipeline_spark.plans.web import (
            sitemap_urls,
        )

        urlset = (
            '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
            "<url><loc>http://a.test/1</loc>"
            "<lastmod>2026-01-01</lastmod></url>"
            "<url><loc> http://a.test/2 </loc></url></urlset>"
        )
        index = (
            "<sitemapindex><sitemap><loc>http://a.test/s1.xml</loc>"
            "</sitemap></sitemapindex>"
        )
        malformed = "<urlset><url><loc>http://broken"
        df = spark.createDataFrame(
            [(1, urlset), (2, index), (3, malformed)],
            "doc_id long, xml string",
        )
        rows = sitemap_urls(df, passthrough=("doc_id",)).collect()
        got = {(r["doc_id"], r["loc"], r["is_index"]) for r in rows}
        # whitespace-trimmed locs, lastmod skipped, malformed yields
        # nothing (no crash)
        assert got == {
            (1, "http://a.test/1", False),
            (1, "http://a.test/2", False),
            (2, "http://a.test/s1.xml", True),
        }


class TestRobotsFilterCli:
    def test_annotate_and_drop_over_real_ingest(self, spark, tmp_path, capsys):
        """crawl → ingest → robots-filter composition: the disallowed
        page is flagged (or dropped), allowed and no-robots hosts
        survive."""
        from imitation_learning_data_pipeline_spark.cli import main

        crawl = tmp_path / "crawl"
        crawl.mkdir()
        _write_warc_gz(
            str(crawl / "s0.warc.gz"),
            [
                _warc_record("response", "http://ruled.test/private/p1",
                             _http_response(b"<p>secret page</p>")),
                _warc_record("response", "http://ruled.test/public/p2",
                             _http_response(b"<p>public page</p>")),
                _warc_record("response", "http://free.test/anything",
                             _http_response(b"<p>no robots host</p>")),
            ],
        )
        docs = str(tmp_path / "docs")
        assert main(["ingest-warc", "--input", str(crawl), "--out", docs]) == 0
        robots = tmp_path / "robots"
        robots.mkdir()
        _write_warc_gz(
            str(robots / "r0.warc.gz"),
            [
                _warc_record(
                    "response", "http://ruled.test/robots.txt",
                    _http_response(
                        b"User-agent: *\nDisallow: /private\n",
                        ctype=b"text/plain",
                    ),
                )
            ],
        )
        capsys.readouterr()
        out = str(tmp_path / "flagged")
        assert main([
            "robots-filter", "--docs", docs, "--robots", str(robots),
            "--out", out,
        ]) == 0
        summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert summary["docs"] == 3 and summary["disallowed"] == 1
        rows = {r["url"]: r for r in spark.read.parquet(out).collect()}
        assert rows["http://ruled.test/private/p1"]["robots_disallowed"]
        assert not rows["http://ruled.test/public/p2"]["robots_disallowed"]
        assert not rows["http://free.test/anything"]["robots_disallowed"]
        # --drop arm: only allowed rows land, column removed
        out2 = str(tmp_path / "clean")
        assert main([
            "robots-filter", "--docs", docs, "--robots", str(robots),
            "--out", out2, "--drop",
        ]) == 0
        kept = spark.read.parquet(out2)
        assert kept.count() == 2
        assert "robots_disallowed" not in kept.columns


class TestWatOutlinks:
    """plans/web.py::wat_outlinks over REAL WAT-shaped files (the
    domain-graph contract is hash-checked by web_wat_linkgraph)."""

    def _wat_record(self, page_url, links):
        import json as _json

        env = {
            "Envelope": {
                "Payload-Metadata": {
                    "HTTP-Response-Metadata": {
                        "HTML-Metadata": {"Links": links}
                    }
                }
            }
        }
        return _warc_record(
            "metadata", page_url, _json.dumps(env).encode(),
            content_type="application/json",
        )

    def test_edges_from_wat_file(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.plans.web import (
            wat_outlinks,
        )
        from imitation_learning_data_pipeline_spark.sources.warc import (
            read_warc,
        )

        d = tmp_path / "wat"
        d.mkdir()
        _write_warc_gz(
            str(d / "s0.warc.wat.gz"),
            [
                self._wat_record("http://a.test/page", [
                    {"path": "A@/href", "url": "HTTP://B.test:80/x#frag"},
                    {"path": "A@/href", "url": "/relative/skipped"},
                    {"path": "IMG@/src", "url": "http://c.test/img.png"},
                ]),
                self._wat_record("http://no-links.test/", []),
            ],
        )
        records = read_warc(spark, str(d), record_types=("metadata",))
        edges = sorted(
            (r["src"], r["dst"]) for r in wat_outlinks(records).collect()
        )
        # relative href dropped; endpoints normalized (case, :80, #frag)
        assert edges == [
            ("http://a.test/page", "http://b.test/x"),
            ("http://a.test/page", "http://c.test/img.png"),
        ]

    def test_cli_domain_graph(self, spark, tmp_path, capsys):
        from imitation_learning_data_pipeline_spark.cli import main

        d = tmp_path / "wat"
        d.mkdir()
        _write_warc_gz(
            str(d / "s0.warc.wat.gz"),
            [
                self._wat_record("http://www.alpha.test/1", [
                    {"url": "http://beta.test/a"},
                    {"url": "http://cdn.beta.test/b"},
                ]),
                self._wat_record("http://alpha.test/2", [
                    {"url": "http://beta.test/c"},
                ]),
            ],
        )
        out = str(tmp_path / "graph")
        assert main([
            "wat-links", "--input", str(d), "--out", out, "--domain-graph",
        ]) == 0
        rows = {
            (r["src_domain"], r["dst_domain"]): r["n_links"]
            for r in spark.read.parquet(out).collect()
        }
        assert rows == {("alpha.test", "beta.test"): 3}


class TestCdxPlan:
    def _line(self, surt, ts, url, mime="text/html", status=200,
              length=100, offset=0, fname="a.warc.gz"):
        return (
            f'{surt} {ts} {{"url": "{url}", "mime": "{mime}", '
            f'"status": "{status}", "digest": "sha1:x", '
            f'"length": "{length}", "offset": "{offset}", '
            f'"filename": "{fname}"}}'
        )

    def test_plan_filters_and_latest(self, spark, tmp_path, capsys):
        """cdx-plan: status/mime/domain filters + latest-per-URL
        struct-max → the WARC fetch manifest."""
        from imitation_learning_data_pipeline_spark.cli import main

        idx = tmp_path / "idx"
        idx.mkdir()
        lines = [
            # two captures of the same URL — latest (Feb) must win
            self._line("com,keep)/a", "20260101000000",
                       "http://keep.com/a", length=10, fname="old.warc.gz"),
            self._line("com,keep)/a", "20260201000000",
                       "http://keep.com/a", length=20, fname="new.warc.gz"),
            # filtered out: 404, pdf, off-domain
            self._line("com,keep)/b", "20260101000000",
                       "http://keep.com/b", status=404),
            self._line("com,keep)/c", "20260101000000",
                       "http://keep.com/c", mime="application/pdf"),
            self._line("org,other)/d", "20260101000000",
                       "http://other.org/d"),
        ]
        (idx / "part0.cdxj").write_text("\n".join(lines) + "\n")
        out = str(tmp_path / "plan")
        assert main([
            "cdx-plan", "--input", str(idx), "--out", out,
            "--domains", "keep.com", "--latest",
        ]) == 0
        summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert summary["captures"] == 1
        assert summary["warc_files"] == 1
        assert summary["bytes_to_fetch"] == 20
        rows = spark.read.parquet(out).collect()
        assert len(rows) == 1
        r = rows[0]
        assert r["filename"] == "new.warc.gz" and r["length"] == 20
        assert r["host"] == "keep.com"

    def test_dedup_digest(self, spark, tmp_path, capsys):
        """--dedup-digest: byte-identical captures across mirror URLs
        fetch once; null digests never collapse."""
        from imitation_learning_data_pipeline_spark.cli import main

        idx = tmp_path / "idx"
        idx.mkdir()
        lines = [
            self._line("com,a)/x", "20260101000000", "http://a.com/x",
                       length=10, fname="f1.warc.gz"),
            # same digest (default sha1:x), different mirror URL
            self._line("com,b)/x", "20260201000000", "http://b.com/x",
                       length=10, fname="f2.warc.gz"),
            # distinct content
            'com,c)/y 20260101000000 {"url": "http://c.com/y", "mime": '
            '"text/html", "status": "200", "digest": "sha1:OTHER", '
            '"length": "5", "offset": "0", "filename": "f3.warc.gz"}',
        ]
        (idx / "p.cdxj").write_text("\n".join(lines) + "\n")
        out = str(tmp_path / "plan")
        assert main([
            "cdx-plan", "--input", str(idx), "--out", out,
            "--dedup-digest",
        ]) == 0
        summary = json.loads(
            capsys.readouterr().out.strip().splitlines()[-1]
        )
        assert summary["captures"] == 2
        assert summary["bytes_to_fetch"] == 15
        rows = {r["digest"]: r for r in spark.read.parquet(out).collect()}
        # the shared-digest pair kept the max-struct winner (latest ts)
        assert rows["sha1:x"]["filename"] == "f2.warc.gz"

    def test_dedup_digest_null_digests_never_collapse(
        self, spark, tmp_path, capsys
    ):
        """r14 review: two null-digest captures — even of the SAME url
        — are distinct unknown content and must both survive."""
        from imitation_learning_data_pipeline_spark.cli import main

        idx = tmp_path / "idx"
        idx.mkdir()
        line = (
            'com,a)/x {ts} {{"url": "http://a.com/x", "mime": '
            '"text/html", "status": "200", "length": "5", '
            '"offset": "{off}", "filename": "f.warc.gz"}}'
        )
        (idx / "p.cdxj").write_text(
            line.format(ts="20260101000000", off=0) + "\n"
            + line.format(ts="20260201000000", off=100) + "\n"
        )
        out = str(tmp_path / "plan")
        assert main([
            "cdx-plan", "--input", str(idx), "--out", out,
            "--dedup-digest",
        ]) == 0
        assert json.loads(
            capsys.readouterr().out.strip().splitlines()[-1]
        )["captures"] == 2

    def test_exclude_docs_incremental(self, spark, tmp_path, capsys):
        """--exclude-docs: captures already in the corpus drop — the
        incremental re-crawl shape (plan only what's new)."""
        from imitation_learning_data_pipeline_spark.cli import main

        idx = tmp_path / "idx"
        idx.mkdir()
        (idx / "p.cdxj").write_text(
            self._line("com,a)/old", "20260101000000", "http://a.com/old")
            + "\n"
            + self._line("com,a)/new", "20260101000000", "http://a.com/new")
            + "\n"
        )
        docs = str(tmp_path / "docs")
        spark.createDataFrame(
            [(1, "http://a.com/old", "already ingested")],
            "doc_id long, url string, text string",
        ).write.parquet(docs)
        out = str(tmp_path / "plan")
        assert main([
            "cdx-plan", "--input", str(idx), "--out", out,
            "--exclude-docs", docs,
        ]) == 0
        assert json.loads(
            capsys.readouterr().out.strip().splitlines()[-1]
        )["captures"] == 1
        rows = spark.read.parquet(out).collect()
        assert rows[0]["url"] == "http://a.com/new"

    def test_keep_all_statuses(self, spark, tmp_path, capsys):
        from imitation_learning_data_pipeline_spark.cli import main

        idx = tmp_path / "idx"
        idx.mkdir()
        (idx / "p.cdxj").write_text(
            self._line("com,a)/x", "20260101000000", "http://a.com/x",
                       status=301) + "\n"
        )
        out = str(tmp_path / "plan")
        assert main([
            "cdx-plan", "--input", str(idx), "--out", out,
            "--status", "-1", "--mime", "",
        ]) == 0
        assert json.loads(
            capsys.readouterr().out.strip().splitlines()[-1]
        )["captures"] == 1


class TestWetBenchRow:
    def test_wet_corpus_kind_and_row(self, spark, tmp_path):
        """web_ingest_wet: conversion-record corpus (own cache tag),
        text verbatim from the payload, dedup halves the URL space."""
        from imitation_learning_data_pipeline_spark.plans.web import (
            build_warc_corpus,
            web_ingest_wet,
        )

        sf_dir = "/root/testdata/sf0.001"
        out_root = str(tmp_path / "warc")
        wet_dir = build_warc_corpus(
            sf_dir, out_root=out_root, replicas=2, n_files=2,
            kind="conversion",
        )
        assert wet_dir.endswith("-wet")
        html_dir = build_warc_corpus(
            sf_dir, out_root=out_root, replicas=2, n_files=2,
        )
        assert html_dir != wet_dir  # separate caches per kind
        from imitation_learning_data_pipeline_spark.plans.web import (
            ingest_warc_plan,
        )

        docs = ingest_warc_plan(spark, wet_dir, wet=True, dedup_url=True)
        rows = docs.collect()
        assert rows and all(r["text"].startswith("Page ") for r in rows)
        # replicas=2 with URL dup factor 2 → one URL per doc survives
        import duckdb

        n_docs = duckdb.sql(
            f"SELECT count(*) FROM '{sf_dir}/documents.parquet' "
            "WHERE length(trim(text)) > 0"
        ).fetchone()[0]
        assert len(rows) == n_docs
        with pytest.raises(ValueError, match="unknown kind"):
            build_warc_corpus(sf_dir, out_root=out_root, kind="wat")


class TestWarcRanges:
    """sources/warc.py::read_warc_ranges — the plan-then-fetch loop:
    CDX index → cdx-plan manifest → ranged member reads → ingest."""

    def test_full_plan_then_fetch_loop(self, spark, tmp_path, capsys):
        from imitation_learning_data_pipeline_spark.cli import main
        from imitation_learning_data_pipeline_spark.plans.web import (
            build_warc_corpus,
            ingest_warc_records,
        )
        from imitation_learning_data_pipeline_spark.sources.cdx import (
            read_cdxj,
        )
        from imitation_learning_data_pipeline_spark.sources.warc import (
            read_warc_ranges,
        )

        corpus = build_warc_corpus(
            "/root/testdata/sf0.001", out_root=str(tmp_path / "w"),
            replicas=2, n_files=2, index=True,
        )
        idx_path = os.path.join(corpus, "index.cdxj")
        assert os.path.exists(idx_path)
        idx = read_cdxj(spark, idx_path)
        n_captures = idx.count()
        assert n_captures > 0
        # expected: one doc per distinct URL that has a 200 capture
        expected = (
            idx.filter("status = 200").select("url").distinct().count()
        )

        manifest = str(tmp_path / "manifest")
        assert main([
            "cdx-plan", "--input", idx_path, "--out", manifest, "--latest",
        ]) == 0
        summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert summary["captures"] == expected
        # bytes_to_fetch is a strict subset of the corpus bytes
        corpus_bytes = sum(
            os.path.getsize(os.path.join(corpus, n))
            for n in os.listdir(corpus) if n.endswith(".warc.gz")
        )
        assert 0 < summary["bytes_to_fetch"] < corpus_bytes

        records = read_warc_ranges(spark, spark.read.parquet(manifest))
        docs = ingest_warc_records(records)
        rows = docs.collect()
        assert len(rows) == expected
        # ranged content identical to the whole-file read of that URL
        from imitation_learning_data_pipeline_spark.plans.web import (
            ingest_warc_plan,
        )

        full = {
            r["url"]: r["text"]
            for r in ingest_warc_plan(
                spark, corpus, dedup_url=True
            ).collect()
        }
        sample = rows[0]
        assert full[sample["url"]] == sample["text"]

    def test_cli_ranges_ingest(self, spark, tmp_path, capsys):
        """The whole loop through the CLI: cdx-plan → ingest-warc
        --ranges, with the input/ranges exclusivity guard."""
        from imitation_learning_data_pipeline_spark.cli import main
        from imitation_learning_data_pipeline_spark.plans.web import (
            build_warc_corpus,
        )

        corpus = build_warc_corpus(
            "/root/testdata/sf0.001", out_root=str(tmp_path / "w"),
            replicas=2, n_files=2, index=True,
        )
        manifest = str(tmp_path / "manifest")
        assert main([
            "cdx-plan", "--input", os.path.join(corpus, "index.cdxj"),
            "--out", manifest, "--latest",
        ]) == 0
        n_plan = json.loads(
            capsys.readouterr().out.strip().splitlines()[-1]
        )["captures"]
        docs = str(tmp_path / "docs")
        assert main([
            "ingest-warc", "--ranges", manifest, "--out", docs,
        ]) == 0
        assert spark.read.parquet(docs).count() == n_plan
        with pytest.raises(SystemExit, match="exactly one"):
            main(["ingest-warc", "--out", docs])
        with pytest.raises(SystemExit, match="exactly one"):
            main([
                "ingest-warc", "--input", corpus, "--ranges", manifest,
                "--out", docs,
            ])

    def test_relative_filenames_resolve_against_base(self, spark, tmp_path):
        """Real CDX carries crawl-root-relative paths — base_dir (and
        the CLI's --ranges-base) resolves them against a local mirror."""
        import gzip

        from imitation_learning_data_pipeline_spark.sources.warc import (
            read_warc_ranges,
        )

        root = tmp_path / "mirror"
        (root / "crawl-data" / "seg").mkdir(parents=True)
        rec = gzip.compress(
            _warc_record("response", "http://rel.test/",
                         _http_response(b"<p>found me</p>"))
        )
        p = root / "crawl-data" / "seg" / "a.warc.gz"
        p.write_bytes(rec)
        manifest = spark.createDataFrame(
            [("crawl-data/seg/a.warc.gz", 0, len(rec))],
            "filename string, offset long, length long",
        )
        rows = read_warc_ranges(
            spark, manifest, base_dir=str(root)
        ).collect()
        assert len(rows) == 1
        assert rows[0]["target_uri"] == "http://rel.test/"

    def test_stale_manifest_refuses(self, spark, tmp_path):
        import gzip

        from imitation_learning_data_pipeline_spark.sources.warc import (
            read_warc_ranges,
        )

        p = str(tmp_path / "a.warc.gz")
        body = _http_response(b"<p>x</p>")
        with open(p, "wb") as fh:
            fh.write(gzip.compress(_warc_record("response", "http://x/", body)))
        manifest = spark.createDataFrame(
            [(p, 0, 10_000_000)],
            "filename string, offset long, length long",
        )
        with pytest.raises(Exception, match="ranged read"):
            read_warc_ranges(spark, manifest).collect()


class TestStreamingCdxIngest:
    def test_shards_drive_ranged_ingest_exactly_once(self, spark, tmp_path):
        """Index shards land → only the new shard's captures are
        fetched (ranged) and ingested; replay changes nothing."""
        from imitation_learning_data_pipeline_spark.plans.web import (
            build_warc_corpus,
        )
        from imitation_learning_data_pipeline_spark.streaming.cdx_stream import (
            run_incremental_cdx_ingest,
        )

        corpus = build_warc_corpus(
            "/root/testdata/sf0.001", out_root=str(tmp_path / "w"),
            replicas=2, n_files=2, index=True,
        )
        lines = [
            ln
            for ln in open(os.path.join(corpus, "index.cdxj"))
            .read().splitlines()
            if ln.strip()
        ]
        half = len(lines) // 2
        land = tmp_path / "landing"
        land.mkdir()
        docs = str(tmp_path / "docs")
        ckpt = str(tmp_path / "ckpt")
        (land / "shard0.cdxj").write_text("\n".join(lines[:half]) + "\n")
        run_incremental_cdx_ingest(spark, str(land), docs, ckpt)
        n1 = spark.read.parquet(docs).count()
        assert n1 > 0
        # second shard arrives — only ITS captures are added
        (land / "shard1.cdxj").write_text("\n".join(lines[half:]) + "\n")
        run_incremental_cdx_ingest(spark, str(land), docs, ckpt)
        all_rows = spark.read.parquet(docs).collect()
        n200 = sum(
            1 for ln in lines if '"status": "200"' in ln
        )
        assert len(all_rows) == n200
        assert len({r["ingest_batch"] for r in all_rows}) == 2
        ids = sorted(r["doc_id"] for r in all_rows)
        # no-new-data replay: nothing duplicates
        run_incremental_cdx_ingest(spark, str(land), docs, ckpt)
        assert sorted(
            r["doc_id"] for r in spark.read.parquet(docs).collect()
        ) == ids


class TestBenchRequeueSelection:
    def test_flag_requeues_rule(self):
        """VERDICT r13 #3: the variance block requeues stall-suspect
        queries itself — worst-first, slow-direction only, capped."""
        from bench import flag_requeues

        ratios = {
            "a": 0.2,   # fast direction: cache settling, never flagged
            "b": 1.04,
            "c": 14.8,  # the r13 artifact shape
            "d": 3.0,   # threshold inclusive
            "e": 2.99,
        }
        flagged, truncated = flag_requeues(ratios)
        assert flagged == ["c", "d"] and truncated == 0
        # cap: worst-first survivors, the rest counted not run
        many = {f"q{i}": 3.0 + i for i in range(8)}
        flagged, truncated = flag_requeues(many, cap=5)
        assert len(flagged) == 5 and truncated == 3
        assert flagged[0] == "q7"  # worst first
        assert flag_requeues({}) == ([], 0)


class TestCompactSprawlingAutoSync:
    def test_sprawling_compact_converges_delta_mirror(self, spark, tmp_path):
        """ADVICE r13 (medium): compact_sprawling deletes rewritten
        files; on an auto-sync table the Delta log must converge NOW,
        not at the next verb — external readers would hit missing files
        for the whole window."""
        from imitation_learning_data_pipeline_spark.pipeline.compact import (
            compact_sprawling,
        )
        from imitation_learning_data_pipeline_spark.pipeline.delta_log import (
            read_delta_snapshot,
        )
        from imitation_learning_data_pipeline_spark.pipeline.delta_log import (
            enable_auto_delta_sync,
        )
        from imitation_learning_data_pipeline_spark.pipeline.manifest import (
            read_manifest_entries,
            write_manifest,
        )

        p = str(tmp_path / "t")
        (
            spark.createDataFrame(
                [(i, "train" if i % 2 else "val", f"v{i}") for i in range(200)],
                "id long, split string, v string",
            )
            .repartition(8)
            .write.partitionBy("split")
            .mode("overwrite")
            .parquet(p)
        )
        write_manifest(spark, p)
        enable_auto_delta_sync(spark, p)
        out = compact_sprawling(
            spark, p, target_bytes=1 << 30, partition_col="split"
        )
        assert out["partitions_selected"] > 0
        snap = read_delta_snapshot(spark, p)
        manifest_rels = {
            rel for rel, _b in read_manifest_entries(spark, p)["files"]
        }
        # the mirror references exactly the post-compact live set — no
        # ghost pre-compact files
        assert set(snap["files"]) == manifest_rels
        for rel in snap["files"]:
            assert os.path.exists(os.path.join(p, rel)), rel


class TestDeltaCheckpointTombstones:
    def test_checkpoint_carries_unexpired_removes(self, spark, tmp_path):
        """ADVICE r13: classic checkpoints must carry unexpired remove
        tombstones (vacuum safety for external engines), with re-added
        paths cancelled and live paths never tombstoned."""
        from imitation_learning_data_pipeline_spark.pipeline.delta_log import (
            read_delta_snapshot,
            sync_delta_log_from_manifest,
        )
        from imitation_learning_data_pipeline_spark.pipeline.manifest import (
            write_manifest,
        )

        p = str(tmp_path / "t")
        df = spark.createDataFrame([(1, "a")], "id long, v string")
        df.coalesce(1).write.mode("overwrite").parquet(p)
        write_manifest(spark, p)
        sync_delta_log_from_manifest(spark, p)  # v0
        for i in range(9):  # v1..v9: appends
            df.coalesce(1).write.mode("append").parquet(p)
            write_manifest(spark, p)
            sync_delta_log_from_manifest(spark, p)
        # v10: drop 9 of the 10 data files and land one new one (a
        # whole-dir overwrite would wipe _delta_log itself) — v10 is
        # the checkpointing version and carries both removes and adds
        parts = sorted(
            n for n in os.listdir(p)
            if n.endswith(".parquet") and not n.startswith(("_", "."))
        )
        assert len(parts) == 10
        for n in parts[:9]:
            os.remove(os.path.join(p, n))
        df.coalesce(1).write.mode("append").parquet(p)
        write_manifest(spark, p)
        out = sync_delta_log_from_manifest(spark, p)
        assert out["version"] == 10 and out["n_remove"] == 9
        cp = spark.read.parquet(
            os.path.join(p, "_delta_log", f"{10:020d}.checkpoint.parquet")
        )
        removes = (
            cp.selectExpr("remove.path AS p", "remove.deletionTimestamp AS ts")
            .where("remove IS NOT NULL")
            .collect()
        )
        assert len(removes) == 9
        assert all(r["ts"] and r["ts"] > 0 for r in removes)
        adds = {
            r["p"]
            for r in cp.selectExpr("add.path AS p")
            .where("add IS NOT NULL")
            .collect()
        }
        # no path is both live and tombstoned in the same checkpoint
        assert adds.isdisjoint({r["p"] for r in removes})
        # replay through the checkpoint: live set correct, tombstones
        # surfaced for the NEXT checkpoint to re-emit
        snap = read_delta_snapshot(spark, p)
        assert snap["version"] == 10 and len(snap["files"]) == 2
        assert len(snap["tombstones"]) == 9
        assert set(snap["tombstones"]).isdisjoint(set(snap["files"]))
        # the chain keeps extending and the reader stays consistent
        df.coalesce(1).write.mode("append").parquet(p)
        write_manifest(spark, p)
        assert sync_delta_log_from_manifest(spark, p)["version"] == 11
        assert len(read_delta_snapshot(spark, p)["files"]) == 3


class TestDeltaCheckpointInterop:
    """VERDICT r13 #8: pre-wire the delta-spark interop claim — the
    stub arm (runs everywhere) pins the checkpoint parquet's action-row
    layout to the documented protocol shape; the real arm reads a
    checkpointed table through delta-spark wherever it is installed."""

    def _build_to_v10(self, spark, p):
        from imitation_learning_data_pipeline_spark.pipeline.delta_log import (
            sync_delta_log_from_manifest,
        )
        from imitation_learning_data_pipeline_spark.pipeline.manifest import (
            write_manifest,
        )

        df = spark.createDataFrame([(1, "a")], "id long, v string")
        df.coalesce(1).write.mode("overwrite").parquet(p)
        write_manifest(spark, p)
        sync_delta_log_from_manifest(spark, p)  # v0
        for _ in range(10):  # v1..v10 — v10 checkpoints
            df.coalesce(1).write.mode("append").parquet(p)
            write_manifest(spark, p)
            sync_delta_log_from_manifest(spark, p)

    def test_checkpoint_action_row_layout(self, spark, tmp_path):
        p = str(tmp_path / "t")
        self._build_to_v10(spark, p)
        log = os.path.join(p, "_delta_log")
        cp = spark.read.parquet(
            os.path.join(log, f"{10:020d}.checkpoint.parquet")
        )
        fields = {f.name: f for f in cp.schema.fields}
        assert set(fields) == {"protocol", "metaData", "add", "remove"}
        assert {f.name for f in fields["protocol"].dataType.fields} == {
            "minReaderVersion", "minWriterVersion"
        }
        assert {f.name for f in fields["metaData"].dataType.fields} == {
            "id", "format", "schemaString", "partitionColumns",
            "configuration", "createdTime",
        }
        assert {f.name for f in fields["add"].dataType.fields} == {
            "path", "partitionValues", "size", "modificationTime",
            "dataChange",
        }
        assert {f.name for f in fields["remove"].dataType.fields} == {
            "path", "deletionTimestamp", "dataChange"
        }
        # exactly one protocol and one metaData row; adds = live set
        assert cp.where("protocol IS NOT NULL").count() == 1
        assert cp.where("metaData IS NOT NULL").count() == 1
        assert cp.where("add IS NOT NULL").count() == 11
        # schemaString is a parseable Spark StructType json
        from pyspark.sql.types import StructType

        meta = cp.where("metaData IS NOT NULL").collect()[0]["metaData"]
        st = StructType.fromJson(json.loads(meta["schemaString"]))
        assert {f.name for f in st.fields} == {"id", "v"}
        hint = json.load(open(os.path.join(log, "_last_checkpoint")))
        assert hint == {"version": 10, "size": 13, "parts": 1}

    @pytest.mark.skipif(
        importlib.util.find_spec("delta") is None,
        reason="delta-spark not installed — the real-engine read of our "
        "checkpoint runs in deployments that pip-install it",
    )
    def test_real_delta_reads_checkpointed_table(self, tmp_path):
        from pyspark.sql import SparkSession

        b = (
            SparkSession.builder.master("local[4]")
            .appName("delta-checkpoint-interop")
            .config("spark.sql.shuffle.partitions", "4")
            # the two session-build configs delta-spark requires
            .config(
                "spark.sql.extensions", "io.delta.sql.DeltaSparkSessionExtension"
            )
            .config(
                "spark.sql.catalog.spark_catalog",
                "org.apache.spark.sql.delta.catalog.DeltaCatalog",
            )
        )
        dspark = b.getOrCreate()
        p = str(tmp_path / "t")
        self._build_to_v10(dspark, p)
        # the real engine replays checkpoint + tail: 11 live rows
        assert dspark.read.format("delta").load(p).count() == 11


class TestWarcCorpusStaleRebuild:
    def test_stale_rebuild_survives_subdirectory(self, tmp_path):
        """ADVICE r13: a stray subdirectory in the corpus dir (crashed
        run) must not abort the rebuild with IsADirectoryError."""
        from imitation_learning_data_pipeline_spark.plans.web import (
            build_warc_corpus,
        )

        sf_dir = os.environ.get(
            "SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001"
        )
        out_root = str(tmp_path / "warc")
        first = build_warc_corpus(sf_dir, out_root=out_root, replicas=2,
                                  n_files=2)
        assert os.path.exists(os.path.join(first, "_COMPLETE"))
        # poison: stale marker + a leftover subdirectory
        with open(os.path.join(first, "_COMPLETE"), "w") as fh:
            json.dump({"stale": True}, fh)
        os.makedirs(os.path.join(first, "crashed.tmp.d"), exist_ok=True)
        second = build_warc_corpus(sf_dir, out_root=out_root, replicas=2,
                                   n_files=2)
        assert second == first
        assert not os.path.exists(os.path.join(first, "crashed.tmp.d"))
        key = json.load(open(os.path.join(first, "_COMPLETE")))
        assert key.get("replicas") == 2
