"""Optimization-round 16 equivalence pins.

Every optimization that restructures an operator's internals gets a
row-identity test against the prior shape — the staged plan IS the
oracle. Performance claims
live in OPTIMIZATION_r16.md; this file only proves outputs did not
move.
"""

from __future__ import annotations

import json
import os

import pytest
from conftest import SF_DIR, measured


def _corpus(tmp_path, wet: bool, index: bool) -> str:
    from imitation_learning_data_pipeline_spark.plans.web import (
        build_warc_corpus,
    )

    return build_warc_corpus(
        SF_DIR,
        out_root=str(tmp_path / "c"),
        kind="conversion" if wet else "response",
        index=index,
    )


def _staged(spark, corpus, wet, normalize, content_type="text/html"):
    """The equivalence oracle: the staged record stages over a
    whole-file parse, called directly."""
    from imitation_learning_data_pipeline_spark.plans.web import (
        ingest_warc_records,
        ingest_wet_records,
    )
    from imitation_learning_data_pipeline_spark.sources.warc import read_warc

    if wet:
        return ingest_wet_records(
            read_warc(spark, corpus, record_types=("conversion",)),
            dedup_url=True,
            normalize_urls=normalize,
        )
    return ingest_warc_records(
        read_warc(spark, corpus),
        content_type=content_type,
        dedup_url=True,
        normalize_urls=normalize,
    )


def _assert_same_rows(staged, got) -> int:
    assert staged.columns == got.columns
    # nullability may tighten (the indexed doc_id is provably
    # non-null); names+types pin
    assert [(f.name, f.dataType) for f in staged.schema.fields] == [
        (f.name, f.dataType) for f in got.schema.fields
    ]
    a = sorted(map(tuple, staged.collect()))
    b = sorted(map(tuple, got.collect()))
    assert a == b
    return len(a)


def _phys(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _write_crawl(d, urls) -> None:
    """One .warc.gz of HTML responses, one gzip member per url, plus an
    ``index.cdxj`` with the generator's ``rec_offset`` field — the
    hand-written twin of build_warc_corpus(index=True). The WARC parser
    trims a header value; the index keeps each url as written."""
    import gzip

    d.mkdir()
    path = str(d / "seg0000.warc.gz")
    lines, off, rec_off = [], 0, 0
    with open(path, "wb") as fh:
        for i, url in enumerate(urls):
            block = (
                b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                + f"<html><p>page {i}</p></html>".encode()
            )
            rec = (
                "WARC/1.0\r\nWARC-Type: response\r\n"
                f"WARC-Record-ID: <urn:t:{i}>\r\n"
                f"WARC-Target-URI: {url}\r\n"
                "Content-Type: application/http; msgtype=response\r\n"
                f"Content-Length: {len(block)}\r\n\r\n"
            ).encode() + block + b"\r\n\r\n"
            member = gzip.compress(rec)
            fh.write(member)
            payload = {
                "url": url, "mime": "text/html", "status": "200",
                "length": str(len(member)), "offset": str(off),
                "filename": path, "rec_offset": str(rec_off),
            }
            lines.append(f"t)/{i} 20260101000000 {json.dumps(payload)}")
            off += len(member)
            rec_off += len(rec)
    (d / "index.cdxj").write_text("\n".join(lines) + "\n")


class TestIndexedIngest:
    """ingest_warc_plan's index-planned form (optimization r16) must be
    row-identical to the staged shape — both modes, both
    URL-normalization settings — including doc ids (the generator's
    rec_offset field exists exactly for that parity)."""

    @pytest.mark.parametrize("wet", [False, True])
    @pytest.mark.parametrize("normalize", [False, True])
    def test_row_identity_vs_staged(self, spark, tmp_path, wet, normalize):
        from imitation_learning_data_pipeline_spark.plans.web import (
            ingest_warc_plan,
        )

        corpus = _corpus(tmp_path, wet, index=True)
        indexed = ingest_warc_plan(
            spark, corpus, dedup_url=True, normalize_urls=normalize, wet=wet
        )
        # prove the plan actually took the index shape: the leaf is the
        # index TEXT scan (value:string), not the whole-file binaryFile
        # scan (path/content) — plan strings truncate paths, so match
        # on the read schema
        phys = _phys(indexed)
        assert "value:string" in phys
        assert "content:binary" not in phys
        assert _assert_same_rows(
            _staged(spark, corpus, wet, normalize), indexed
        ) > 0

    @pytest.mark.parametrize("wet", [False, True], ids=["html", "wet"])
    @pytest.mark.parametrize("normalize", [False, True])
    def test_no_index_row_identity_vs_staged(
        self, spark, tmp_path, wet, normalize
    ):
        from imitation_learning_data_pipeline_spark.plans.web import (
            ingest_warc_plan,
        )

        corpus = _corpus(tmp_path, wet, index=False)
        got = ingest_warc_plan(
            spark, corpus, dedup_url=True, normalize_urls=normalize, wet=wet
        )
        assert _assert_same_rows(
            _staged(spark, corpus, wet, normalize), got
        ) > 0

    @pytest.mark.parametrize("wet", [False, True], ids=["html", "wet"])
    def test_auto_without_index_runs_staged(self, spark, tmp_path, wet):
        """No index → the staged plan: the whole-file binaryFile scan
        and the URL-dedup aggregate's exchange."""
        from imitation_learning_data_pipeline_spark.plans.web import (
            ingest_warc_plan,
        )

        corpus = _corpus(tmp_path, wet, index=False)
        phys = _phys(ingest_warc_plan(spark, corpus, dedup_url=True, wet=wet))
        assert "Scan binaryFile" in phys
        assert "Exchange" in phys
        assert "value:string" not in phys

    def test_parameterized_content_type_matches_staged(self, spark, tmp_path):
        """The index's mime is the bare media type, so a content type
        with parameters cannot be matched on it: the plan must run the
        staged shape, not return an empty indexed result."""
        from imitation_learning_data_pipeline_spark.plans.web import (
            ingest_warc_plan,
        )

        ct = "text/html; charset=utf-8"
        corpus = _corpus(tmp_path, wet=False, index=True)
        got = ingest_warc_plan(spark, corpus, content_type=ct, dedup_url=True)
        staged = _staged(spark, corpus, False, False, content_type=ct)
        assert _assert_same_rows(staged, got) > 0
        assert "Scan binaryFile" in _phys(got)

    def test_blank_urls_self_key_on_the_index_path(self, spark, tmp_path):
        """Under normalize_urls, a whitespace-only index url normalizes
        to the empty url, and each such page keys on its own doc id —
        the same rule the staged plan applies to the parsed (already
        trimmed) target URI. Keying on the raw index url collapsed them
        into one survivor."""
        from imitation_learning_data_pipeline_spark.plans.web import (
            ingest_warc_plan,
            ingest_warc_records,
        )
        from imitation_learning_data_pipeline_spark.sources.warc import (
            read_warc,
        )

        d = tmp_path / "crawl"
        _write_crawl(d, ["   "] * 3 + ["http://t.example/a"] * 2)
        got = ingest_warc_plan(
            spark, str(d), dedup_url=True, normalize_urls=True
        )
        assert "value:string" in _phys(got)
        staged = ingest_warc_records(
            read_warc(spark, str(d)), dedup_url=True, normalize_urls=True
        )
        assert _assert_same_rows(staged, got) == 4

    def test_usable_index_requires_rec_offset(self, tmp_path):
        from imitation_learning_data_pipeline_spark.plans.web import (
            _usable_index,
        )

        d = tmp_path / "noidx"
        d.mkdir()
        assert _usable_index(str(d)) is None
        # a standard CDXJ line (no rec_offset) must NOT engage the
        # doc-id-parity path
        payload = {
            "url": "http://t.example/a",
            "mime": "text/html",
            "status": "200",
            "length": "10",
            "offset": "0",
            "filename": str(d / "seg0000.warc.gz"),
        }
        (d / "index.cdxj").write_text(
            f"example,t)/a 20260101000000 {json.dumps(payload)}\n"
        )
        assert _usable_index(str(d)) is None
        payload["rec_offset"] = "0"
        (d / "index.cdxj").write_text(
            f"example,t)/a 20260101000000 {json.dumps(payload)}\n"
        )
        assert _usable_index(str(d)) is not None
        # a NARROWING glob must not engage the whole-directory index —
        # the indexed plan would ingest records the glob excludes
        assert _usable_index(os.path.join(str(d), "*.warc.gz")) is None
        assert _usable_index(os.path.join(str(d), "seg000*.warc.gz")) is None

    def test_verify_generator_matches_inline_filter(self, spark):
        """_verify_jaccard's explode(when(...)) threshold (r16) must be
        row- and schema-identical to the pre-r15 inline-filter shape —
        the generator is ONLY a pushdown barrier (one array_intersect
        per candidate in the executed plan), never a semantics change."""
        from pyspark.sql import functions as F

        from imitation_learning_data_pipeline_spark.functions.rounding import (
            quantize,
        )
        from imitation_learning_data_pipeline_spark.plans.dedup import (
            _BUCKET_CAP,
            _bucket_pairs,
            _corpus,
            _minhash_band_rows,
            _minhash_sig_plan,
            _verify_jaccard,
        )

        sigs = _minhash_sig_plan(_corpus(spark, "/root/testdata/sf0.001"))
        sigs = sigs.persist()
        try:
            sets = sigs.select("doc_id", "sh")
            cand = _bucket_pairs(
                _minhash_band_rows(sigs), ["band", "bucket"], _BUCKET_CAP
            )
            got = _verify_jaccard(cand, sets, 0.5)
            inter = F.size(
                F.array_intersect(F.col("x.sh"), F.col("y.sh"))
            ).cast("double")
            union = (
                F.size(F.col("x.sh"))
                + F.size(F.col("y.sh"))
                - F.size(F.array_intersect(F.col("x.sh"), F.col("y.sh")))
            )
            jac = inter / union
            want = (
                cand.join(sets.alias("x"), F.col("doc_a") == F.col("x.doc_id"))
                .join(sets.alias("y"), F.col("doc_b") == F.col("y.doc_id"))
                .filter(jac >= 0.5)
                .select("doc_a", "doc_b", quantize(jac, 4).alias("jaccard"))
            )
            assert got.dtypes == want.dtypes
            a = sorted(map(tuple, got.collect()))
            b = sorted(map(tuple, want.collect()))
            assert a == b and len(a) > 0
            # the barrier property itself: one array_intersect in the
            # executed plan (the filter shape evaluates it 3-4 times);
            # AQE's string repeats the plan under "== Initial Plan =="
            # — count the final section only
            phys = (
                got._jdf.queryExecution().executedPlan().toString()
                .split("== Initial Plan ==")[0]
            )
            assert phys.count("array_intersect") == 1
        finally:
            sigs.unpersist()

    @pytest.mark.parametrize("index", [True, False], ids=["index", "no-index"])
    @pytest.mark.parametrize(
        "mode", [{}, {"wet": True}, {"main_content": True}],
        ids=["html", "wet", "main_content"],
    )
    def test_index_plan_is_lazy(self, spark, tmp_path, mode, index):
        """Building (not executing) the ingest plan runs ZERO Spark
        jobs, with or without an index, in every mode (main_content
        never takes the index shape). Jobs are counted per job group:
        the status store's job list stops growing once it holds
        spark.ui.retainedJobs jobs, so a before/after size diff would
        pass late in a long session whatever ran."""
        from imitation_learning_data_pipeline_spark.plans.web import (
            ingest_warc_plan,
        )

        corpus = _corpus(tmp_path, mode.get("wet", False), index)
        for dedup in (True, False):
            work = measured(
                spark,
                lambda: ingest_warc_plan(
                    spark, corpus, dedup_url=dedup, **mode
                ),
            )
            assert work.jobs == 0
