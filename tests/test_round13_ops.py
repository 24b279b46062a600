"""Round-13 surfaces: bounded-memory WARC reads, undecoded-coding
flagging (brotli/zstd), case-insensitive ingest filters, and the
drift-baseline bootstrap lock."""

import gzip
import json
import os

import pytest

from tests.test_round12_ops import _http_response, _warc_record


def _write_warc_gz(path, records):
    with open(path, "wb") as fh:
        for rec in records:
            fh.write(gzip.compress(rec))


class TestWarcBoundedChunks:
    """VERDICT r12 #1: read_warc must not hold a whole file's
    decompressed records in one list+frame — frames flush every
    chunk_bytes of accumulated payload."""

    def _records(self, n=8, body_bytes=1000):
        return [
            _warc_record(
                "response",
                f"http://x.test/{i}",
                _http_response(
                    b"<p>" + (b"%03d " % i) * (body_bytes // 4) + b"</p>"
                ),
            )
            for i in range(n)
        ]

    def test_chunked_output_identical_and_multibatch(self, tmp_path):
        """(a) chunked output == unbounded output, (b) a small
        threshold provably emits MORE THAN ONE batch per file."""
        from imitation_learning_data_pipeline_spark.sources.warc import (
            parse_warc_file_chunks,
        )

        p = str(tmp_path / "a.warc.gz")
        _write_warc_gz(p, self._records())
        content = open(p, "rb").read()
        wanted = frozenset({"response"})

        bounded = list(
            parse_warc_file_chunks(p, content, wanted, chunk_bytes=2500)
        )
        unbounded = list(
            parse_warc_file_chunks(p, content, wanted, chunk_bytes=1 << 40)
        )
        assert len(unbounded) == 1 and len(unbounded[0]) == 8
        assert len(bounded) > 1  # the bound actually split the file
        # every chunk respects the threshold: payload bytes accumulated
        # BEFORE the flush row stay under chunk_bytes (flush happens on
        # the row that crosses it)
        for chunk in bounded[:-1]:
            pre_flush = sum(len(b) for b in chunk["payload"][:-1])
            assert pre_flush < 2500
        import pandas as pd

        merged = pd.concat(bounded, ignore_index=True)
        pd.testing.assert_frame_equal(merged, unbounded[0])

    def test_read_warc_rows_invariant_under_chunking(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.sources.warc import (
            read_warc,
        )

        d = tmp_path / "crawl"
        d.mkdir()
        _write_warc_gz(str(d / "s0.warc.gz"), self._records())
        small = read_warc(spark, str(d), chunk_bytes=2500)
        big = read_warc(spark, str(d))  # default 64 MB → one frame here
        rows_small = sorted(
            small.collect(), key=lambda r: r["record_offset"]
        )
        rows_big = sorted(big.collect(), key=lambda r: r["record_offset"])
        assert rows_small == rows_big
        assert len(rows_small) == 8


class TestWarcUndecodedCoding:
    """ADVICE r12: brotli/zstd bodies (no stdlib codec) must be
    FLAGGED, not passed downstream as mojibake text."""

    def _parse_one(self, http_msg):
        import io

        from imitation_learning_data_pipeline_spark.sources.warc import (
            parse_warc_stream,
        )

        rec = _warc_record("response", "http://x/", http_msg)
        return list(parse_warc_stream(io.BytesIO(rec), "t"))[0]

    def test_br_and_zstd_flagged_raw(self):
        fake_br = b"\x1b\x2e\x00compressed-with-brotli"
        for label in (b"br", b"zstd", b"BR"):
            msg = (
                b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                b"Content-Encoding: " + label + b"\r\n\r\n" + fake_br
            )
            rec = self._parse_one(msg)
            assert rec["undecoded_coding"] == label.decode().lower()
            assert rec["payload"] == fake_br  # kept raw, never mangled

    def test_supported_and_identity_codings_unflagged(self):
        body = gzip.compress(b"<p>ok</p>")
        msg = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            b"Content-Encoding: gzip\r\n\r\n" + body
        )
        rec = self._parse_one(msg)
        assert rec["undecoded_coding"] is None
        assert rec["payload"] == b"<p>ok</p>"
        plain = self._parse_one(_http_response(b"<p>p</p>"))
        assert plain["undecoded_coding"] is None
        # wrong-header gzip (decode fails, kept raw) stays UNflagged:
        # the label was supported, the bytes were just mislabeled
        bad = self._parse_one(
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            b"Content-Encoding: gzip\r\n\r\n<p>not gzip</p>"
        )
        assert bad["undecoded_coding"] is None
        assert bad["payload"] == b"<p>not gzip</p>"

    def test_multi_coding_lists(self):
        """r13 review #3: Content-Encoding is a comma-separated list
        (RFC 9110) — 'gzip, br' must flag exactly like bare 'br', and
        a fully-supported chain must decode right-to-left."""
        raw = b"\x1b\x2e\x00brotli-bytes"
        rec = self._parse_one(
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            b"Content-Encoding: gzip, br\r\n\r\n" + raw
        )
        assert rec["undecoded_coding"] == "br"
        assert rec["payload"] == raw
        # outermost gzip decodes, then the inner br flags
        body = gzip.compress(raw)
        rec = self._parse_one(
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            b"Content-Encoding: br, gzip\r\n\r\n" + body
        )
        assert rec["undecoded_coding"] == "br"
        assert rec["payload"] == raw
        # fully-supported chain: gzip(deflate(x)) with 'deflate, gzip'
        import zlib

        double = gzip.compress(zlib.compress(b"<p>nested</p>"))
        rec = self._parse_one(
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            b"Content-Encoding: deflate, gzip\r\n\r\n" + double
        )
        assert rec["undecoded_coding"] is None
        assert rec["payload"] == b"<p>nested</p>"
        # identity tokens are transparent
        rec = self._parse_one(
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            b"Content-Encoding: identity, gzip\r\n\r\n"
            + gzip.compress(b"<p>i</p>")
        )
        assert rec["payload"] == b"<p>i</p>"
        assert rec["undecoded_coding"] is None

    def test_ingest_warc_drops_flagged_bodies(self, spark, tmp_path, capsys):
        from imitation_learning_data_pipeline_spark.cli import main

        d = tmp_path / "crawl"
        d.mkdir()
        _write_warc_gz(
            str(d / "s0.warc.gz"),
            [
                _warc_record(
                    "response", "http://good.test/",
                    _http_response(b"<p>decodable page</p>"),
                ),
                _warc_record(
                    "response", "http://br.test/",
                    b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                    b"Content-Encoding: br\r\n\r\n\x1b\x2e\x00raw-brotli",
                ),
            ],
        )
        out = str(tmp_path / "docs")
        assert main(["ingest-warc", "--input", str(d), "--out", out]) == 0
        rows = spark.read.parquet(out).collect()
        assert [r["url"] for r in rows] == ["http://good.test/"]


class TestDriftBaselineWriteLock:
    """ADVICE r12 (medium): write_drift_baseline must take the same
    maintenance lock as fold_drift_baseline — the PSI twin of
    write_hll_store's VERDICT r11 #1 fix."""

    def _ref(self, spark, n=100):
        return spark.createDataFrame(
            [(i, (i % 10) / 10 + 0.05) for i in range(n)],
            "doc_id long, score double",
        ).select("score")

    def test_write_respects_lock(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline.compact import (
            ConcurrentMaintenanceError,
        )
        from imitation_learning_data_pipeline_spark.plans.monitor import (
            read_drift_baseline,
            write_drift_baseline,
        )

        base = str(tmp_path / "b1")
        lock = base + "__maintenance_lock"
        with open(lock, "w") as fh:
            fh.write('{"op": "psi-fold", "pid": 1}')
        with pytest.raises(ConcurrentMaintenanceError):
            write_drift_baseline(self._ref(spark), base)
        os.remove(lock)
        write_drift_baseline(self._ref(spark), base)
        assert not os.path.exists(lock)  # released on success
        total = read_drift_baseline(spark, base).agg(
            {"n": "sum"}
        ).collect()[0][0]
        assert total == 100

    def test_write_completes_crashed_fold_first(self, spark, tmp_path):
        """A rebuild on a crashed-fold path completes the journaled
        staged swap BEFORE overwriting — no torn store, no stranded
        __psi_tmp/pending artifacts."""
        import imitation_learning_data_pipeline_spark.pipeline.fsio as fsio
        from imitation_learning_data_pipeline_spark.plans.monitor import (
            fold_drift_baseline,
            read_drift_baseline,
            write_drift_baseline,
        )

        base = str(tmp_path / "b2")
        write_drift_baseline(self._ref(spark), base)
        batch = spark.createDataFrame(
            [(i, 0.35) for i in range(50)], "doc_id long, score double"
        ).select("score")
        with pytest.MonkeyPatch.context() as mp:
            def boom(*a, **k):
                raise RuntimeError("injected crash")

            mp.setattr(fsio, "_swap_in", boom)
            with pytest.raises(RuntimeError, match="injected crash"):
                fold_drift_baseline(batch, base, batch_id=1)
        assert os.path.exists(base + "__psi_pending.json")
        write_drift_baseline(self._ref(spark, n=40), base)
        assert not os.path.exists(base + "__psi_pending.json")
        assert not os.path.exists(base + "__psi_tmp")
        total = read_drift_baseline(spark, base).agg(
            {"n": "sum"}
        ).collect()[0][0]
        assert total == 40  # the rebuild, not the folded store


class TestShardTmpSweep:
    """ADVICE r12: attempt-unique tmp names orphan a killed attempt's
    .tmp.<attempt> file forever — exports sweep stale tmps at start."""

    def _df(self, spark):
        return spark.createDataFrame(
            [(i, f"text {i}") for i in range(20)],
            "doc_id long, text string",
        )

    def test_tfrecord_sweeps_stale_tmp(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline.tfrecord import (
            export_tfrecord,
        )

        out = tmp_path / "tf"
        out.mkdir()
        stale = out / "shard-00001.tfrecord.tmp.42"
        stale.write_bytes(b"orphaned attempt bytes")
        export_tfrecord(self._df(spark), str(out), n_shards=2)
        names = sorted(os.listdir(out))
        assert not any(".tmp." in n for n in names), names
        assert names == ["shard-00000.tfrecord", "shard-00001.tfrecord"]

    def test_webdataset_sweeps_stale_tmp(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline.webdataset import (
            export_webdataset,
        )

        out = tmp_path / "wds"
        out.mkdir()
        (out / "shard-000000.tar.tmp.7").write_bytes(b"junk")
        export_webdataset(self._df(spark), str(out), n_shards=2)
        names = sorted(os.listdir(out))
        assert not any(".tmp." in n for n in names), names
        assert names == ["shard-000000.tar", "shard-000001.tar"]


class TestDeltaLogSchemaEvolution:
    def test_sync_reemits_metadata_on_new_column(self, spark, tmp_path):
        """ADVICE r12: a sync after the table gains columns must emit
        an updated metaData action — otherwise external Delta readers
        keep the v0 schemaString and silently drop the new columns."""
        from imitation_learning_data_pipeline_spark.pipeline.delta_log import (
            read_delta_snapshot,
            sync_delta_log_from_manifest,
        )
        from imitation_learning_data_pipeline_spark.pipeline.manifest import (
            write_manifest,
        )

        p = str(tmp_path / "t")
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(10)], "id long, name string"
        ).coalesce(1).write.mode("overwrite").parquet(p)
        write_manifest(spark, p)
        out0 = sync_delta_log_from_manifest(spark, p)
        assert out0["version"] == 0 and out0["schema_updated"] is False
        snap0 = read_delta_snapshot(spark, p)
        table_id = snap0["metadata"]["id"]
        assert '"name":"name"' in snap0["metadata"]["schemaString"]
        assert '"name":"extra"' not in snap0["metadata"]["schemaString"]

        # the table evolves: NEW files carry an extra column (old
        # files keep the narrow footer — Delta reads them as null)
        spark.createDataFrame(
            [(i, f"v{i}", i * 2) for i in range(10, 20)],
            "id long, name string, extra long",
        ).coalesce(1).write.mode("append").parquet(p)
        write_manifest(spark, p)
        out1 = sync_delta_log_from_manifest(spark, p)
        assert out1["changed"] and out1["schema_updated"] is True
        snap1 = read_delta_snapshot(spark, p)
        # union schema: the old column AND the new one
        assert '"name":"name"' in snap1["metadata"]["schemaString"]
        assert '"name":"extra"' in snap1["metadata"]["schemaString"]
        # Delta identity is the id — it must survive the evolution
        assert snap1["metadata"]["id"] == table_id
        # convergence: nothing further to commit, no metadata churn
        again = sync_delta_log_from_manifest(spark, p)
        assert again["changed"] is False and again["schema_updated"] is False

    def test_full_rewrite_replaces_schema(self, spark, tmp_path):
        """When every logged file is removed in one sync (a wholesale
        rebuild), the added schema REPLACES — a dropped column must not
        haunt external readers as eternal nulls."""
        import glob
        import shutil

        from imitation_learning_data_pipeline_spark.pipeline.delta_log import (
            read_delta_snapshot,
            sync_delta_log_from_manifest,
        )
        from imitation_learning_data_pipeline_spark.pipeline.manifest import (
            write_manifest,
        )

        p = str(tmp_path / "t3")
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(10)], "id long, name string"
        ).coalesce(1).write.mode("overwrite").parquet(p)
        write_manifest(spark, p)
        sync_delta_log_from_manifest(spark, p)
        old_parts = glob.glob(os.path.join(p, "part-*.parquet"))
        # rebuild: write replacement files elsewhere, swap them in
        q = str(tmp_path / "rebuild")
        spark.createDataFrame(
            [(i, float(i)) for i in range(10)], "id long, score double"
        ).coalesce(1).write.mode("overwrite").parquet(q)
        for f in old_parts:
            os.remove(f)
        for f in glob.glob(os.path.join(q, "part-*.parquet")):
            shutil.move(f, os.path.join(p, os.path.basename(f)))
        write_manifest(spark, p)
        out = sync_delta_log_from_manifest(spark, p)
        assert out["schema_updated"] is True
        s = read_delta_snapshot(spark, p)["metadata"]["schemaString"]
        assert '"name":"score"' in s and '"name":"name"' not in s

    def test_type_change_refused(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline.delta_log import (
            sync_delta_log_from_manifest,
        )
        from imitation_learning_data_pipeline_spark.pipeline.manifest import (
            write_manifest,
        )

        p = str(tmp_path / "t4")
        spark.createDataFrame(
            [(i, i) for i in range(5)], "id long, v long"
        ).coalesce(1).write.mode("overwrite").parquet(p)
        write_manifest(spark, p)
        sync_delta_log_from_manifest(spark, p)
        spark.createDataFrame(
            [(i, str(i)) for i in range(5, 10)], "id long, v string"
        ).coalesce(1).write.mode("append").parquet(p)
        write_manifest(spark, p)
        with pytest.raises(ValueError, match="type.*changed|changed.*type"):
            sync_delta_log_from_manifest(spark, p)

    def test_sync_same_schema_emits_no_metadata(self, spark, tmp_path):
        """File churn WITHOUT schema change must not re-emit metaData
        (metadata actions on every sync would bloat the log replay)."""
        from imitation_learning_data_pipeline_spark.pipeline.delta_log import (
            sync_delta_log_from_manifest,
        )
        from imitation_learning_data_pipeline_spark.pipeline.manifest import (
            write_manifest,
        )

        p = str(tmp_path / "t2")
        df = spark.createDataFrame([(i,) for i in range(10)], "id long")
        df.coalesce(1).write.mode("overwrite").parquet(p)
        write_manifest(spark, p)
        sync_delta_log_from_manifest(spark, p)
        df.coalesce(2).write.mode("append").parquet(p)  # new files
        write_manifest(spark, p)
        out = sync_delta_log_from_manifest(spark, p)
        assert out["changed"] is True and out["schema_updated"] is False
        commit1 = open(
            os.path.join(p, "_delta_log", f"{1:020d}.json")
        ).read()
        assert "metaData" not in commit1


_GOPHER_OK = (
    "the team decided to review all of the design notes and confirm "
    "that they have agreed with every point raised during the long "
    "planning session held this week because the written record must "
    "stay accurate and complete for those readers who come later and "
    "want to understand what was decided here and why it mattered then"
)


class TestWarcToCurationComposition:
    """VERDICT r12 #8: the crawl-to-corpus path composed end to end —
    WARC → ingest-warc → cli curate — with a planted link farm dropped
    at INGEST (link density) and a planted duplicate dropped at the
    funnel's DEDUP stage."""

    def test_crawl_to_curated_corpus(self, spark, tmp_path, capsys):
        from imitation_learning_data_pipeline_spark.cli import main

        d = tmp_path / "crawl"
        d.mkdir()
        good = [
            _warc_record(
                "response", f"http://site{i}.test/",
                _http_response(
                    f"<p>{_GOPHER_OK} unique marker {i} paragraph</p>".encode()
                ),
            )
            for i in range(3)
        ]
        dup_body = f"<p>{_GOPHER_OK} repeated syndicated article</p>".encode()
        dups = [
            _warc_record(
                "response", f"http://mirror{i}.test/", _http_response(dup_body)
            )
            for i in range(2)
        ]
        farm = _warc_record(
            "response", "http://farm.test/",
            _http_response(
                b"<p>" + b" ".join(
                    b'<a href="/%d">link%d</a>' % (i, i) for i in range(40)
                ) + b" x</p>"
            ),
        )
        _write_warc_gz(str(d / "s0.warc.gz"), good + dups + [farm])

        docs = str(tmp_path / "docs")
        assert main([
            "ingest-warc", "--input", str(d), "--out", docs,
            "--max-link-density", "0.5",
        ]) == 0
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rep["docs"] == 5  # farm dropped at ingest, dups survive

        curated = str(tmp_path / "curated")
        assert main([
            "curate", "--path", docs, "--stages", "gopher,dedup",
            "--out", curated,
        ]) == 0
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        stages = {r["stage"]: r for r in rep["funnel"]}
        assert stages["gopher"]["rows_out"] == 5  # all extracted pass
        assert stages["dedup"]["rows_out"] == 4  # one mirror dropped
        rows = spark.read.parquet(curated).collect()
        assert len(rows) == 4
        texts = [r["text"] for r in rows]
        assert sum("syndicated" in t for t in texts) == 1


class TestWarcBenchRow:
    """VERDICT r12 #3: the registered web_ingest_warc bench row over a
    real generated .warc.gz corpus."""

    def test_corpus_build_cached_and_query_shape(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.plans.web import (
            _WARC_REPLICAS,
            build_warc_corpus,
            ingest_warc_plan,
        )

        sf_dir = "/root/testdata/sf0.001"
        root = str(tmp_path / "corpus")
        out = build_warc_corpus(sf_dir, out_root=root)
        assert os.path.exists(os.path.join(out, "_COMPLETE"))
        n_gz = len([f for f in os.listdir(out) if f.endswith(".warc.gz")])
        assert n_gz == 32
        # cached: a second call returns without rewriting
        mtime = os.path.getmtime(os.path.join(out, "seg0000.warc.gz"))
        assert build_warc_corpus(sf_dir, out_root=root) == out
        assert os.path.getmtime(os.path.join(out, "seg0000.warc.gz")) == mtime

        import duckdb

        n_docs = duckdb.sql(
            f"SELECT count(*) FROM '{sf_dir}/documents.parquet' "
            "WHERE length(trim(text)) > 0"
        ).fetchone()[0]
        result = ingest_warc_plan(
            spark, out, content_type="text/html", dedup_url=True
        )
        rows = result.collect()
        # URL space: replicas//2 distinct URLs per doc (dup factor 2);
        # every URL survives dedup (404s may thin a URL to one fetch,
        # never to zero — 2% of records, never both fetches of a URL
        # since consecutive page_ids differ by 1 and 404s are %50)
        assert len(rows) == n_docs * (_WARC_REPLICAS // 2)
        assert len({r["url"] for r in rows}) == len(rows)
        # determinism: doc ids are pure (file, offset) functions
        again = ingest_warc_plan(
            spark, out, content_type="text/html", dedup_url=True
        ).collect()
        assert sorted(r["doc_id"] for r in again) == sorted(
            r["doc_id"] for r in rows
        )

    def test_corpus_cache_keys_on_params_and_source(self, tmp_path):
        """r13 review #4: the disk cache must rebuild when the shape
        parameters (or the source table) change — not blindly trust a
        completion marker."""
        import json as _json

        from imitation_learning_data_pipeline_spark.plans.web import (
            build_warc_corpus,
        )

        sf_dir = "/root/testdata/sf0.001"
        root = str(tmp_path / "c")
        out = build_warc_corpus(sf_dir, out_root=root, replicas=4, n_files=2)
        m1 = os.path.getmtime(os.path.join(out, "seg0000.warc.gz"))
        key1 = _json.load(open(os.path.join(out, "_COMPLETE")))
        assert key1["replicas"] == 4 and key1["n_files"] == 2
        # same params: cache hit
        build_warc_corpus(sf_dir, out_root=root, replicas=4, n_files=2)
        assert os.path.getmtime(os.path.join(out, "seg0000.warc.gz")) == m1
        # different replicas: rebuild
        build_warc_corpus(sf_dir, out_root=root, replicas=2, n_files=2)
        key2 = _json.load(open(os.path.join(out, "_COMPLETE")))
        assert key2["replicas"] == 2
        assert os.path.getmtime(os.path.join(out, "seg0000.warc.gz")) != m1


class TestAutoDeltaSync:
    """VERDICT r12 #6: DML verbs on an opted-in table mirror every
    commit into _delta_log; a crash between manifest commit and log
    sync converges at the next verb (the sync is a pure diff)."""

    def _snapshot_rels(self, spark, p):
        from imitation_learning_data_pipeline_spark.pipeline.delta_log import (
            read_delta_snapshot,
        )

        return set(read_delta_snapshot(spark, p)["files"])

    def _manifest_rels(self, spark, p):
        from imitation_learning_data_pipeline_spark.pipeline.manifest import (
            read_manifest_entries,
        )

        return {r for r, _b in read_manifest_entries(spark, p)["files"]}

    def test_dml_commits_mirror_and_crash_converges(self, spark, tmp_path):
        import imitation_learning_data_pipeline_spark.pipeline.delta_log as DL
        from imitation_learning_data_pipeline_spark.pipeline.delta_log import (
            enable_auto_delta_sync,
        )
        from imitation_learning_data_pipeline_spark.pipeline.manifest import (
            write_manifest,
        )
        from imitation_learning_data_pipeline_spark.pipeline.merge import (
            delete_from,
            insert_into,
            merge_into,
        )

        p = str(tmp_path / "t")
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(100)], "id long, v string"
        ).repartition(2).write.mode("overwrite").parquet(p)
        write_manifest(spark, p)
        out = enable_auto_delta_sync(spark, p)
        assert out["version"] == 0
        assert self._snapshot_rels(spark, p) == self._manifest_rels(spark, p)

        # a normal merge auto-emits its Delta actions
        upd = spark.createDataFrame(
            [(5, "updated"), (200, "new")], "id long, v string"
        )
        merge_into(spark, p, upd, key="id")
        assert self._snapshot_rels(spark, p) == self._manifest_rels(spark, p)

        # crash point: the delete's manifest delta commits, then the
        # log sync dies before emitting — external readers go stale by
        # one commit, never wrong
        with pytest.MonkeyPatch.context() as mp:
            real = DL.sync_delta_log_from_manifest

            def boom(*a, **k):
                raise RuntimeError("injected crash before log sync")

            mp.setattr(DL, "sync_delta_log_from_manifest", boom)
            with pytest.raises(RuntimeError, match="injected crash"):
                delete_from(spark, p, "id < 10")
        # the DELETE itself committed (data + manifest)...
        assert spark.read.parquet(p).filter("id < 10").count() == 0
        stale_log = self._snapshot_rels(spark, p)
        assert stale_log != self._manifest_rels(spark, p)
        # ...and the next verb's auto-sync converges the stale log
        insert_into(
            spark, p,
            spark.createDataFrame([(300, "late")], "id long, v string"),
        )
        assert self._snapshot_rels(spark, p) == self._manifest_rels(spark, p)
        assert real is DL.sync_delta_log_from_manifest  # patch scoped

    def test_compact_preserves_log_and_mirrors(self, spark, tmp_path):
        """r13 review #1: compact's directory swap must carry
        _delta_log and the auto-sync marker back (like _manifest/
        _history) — one compact previously destroyed the Delta mirror
        AND silently disabled the opt-in forever."""
        from imitation_learning_data_pipeline_spark.pipeline.compact import (
            compact,
        )
        from imitation_learning_data_pipeline_spark.pipeline.delta_log import (
            auto_delta_sync_enabled,
            enable_auto_delta_sync,
            read_delta_snapshot,
        )
        from imitation_learning_data_pipeline_spark.pipeline.manifest import (
            write_manifest,
        )

        p = str(tmp_path / "t")
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(200)], "id long, v string"
        ).repartition(8).write.mode("overwrite").parquet(p)
        write_manifest(spark, p)
        enable_auto_delta_sync(spark, p)
        compact(spark, p, target_bytes=1 << 30)
        assert auto_delta_sync_enabled(spark, p) is True
        snap = read_delta_snapshot(spark, p)
        assert set(snap["files"]) == self._manifest_rels(spark, p)
        assert spark.read.parquet(p).count() == 200

    def test_contended_sync_does_not_fail_the_dml(self, spark, tmp_path):
        """r13 review #2: a lock race in the post-commit sync must skip
        (next verb converges), never surface as a DML failure that
        invites a double-applying retry."""
        from imitation_learning_data_pipeline_spark.pipeline.delta_log import (
            enable_auto_delta_sync,
            maybe_auto_delta_sync,
        )
        from imitation_learning_data_pipeline_spark.pipeline.manifest import (
            write_manifest,
        )

        p = str(tmp_path / "t2")
        spark.createDataFrame([(1,)], "id long").write.parquet(p)
        write_manifest(spark, p)
        enable_auto_delta_sync(spark, p)
        with open(p + "__maintenance_lock", "w") as fh:
            fh.write('{"op": "merge_into", "pid": 1}')
        import warnings as _w

        with _w.catch_warnings(record=True) as caught:
            _w.simplefilter("always")
            assert maybe_auto_delta_sync(spark, p) is None
        assert any("sync skipped" in str(c.message) for c in caught)
        os.remove(p + "__maintenance_lock")
        assert maybe_auto_delta_sync(spark, p) is not None

    def test_checkpoint_written_and_replayed(self, spark, tmp_path):
        """r13 review #6: every 10th sync writes a classic checkpoint +
        _last_checkpoint so replay is O(interval), not O(history); a
        torn hint reads as absent."""
        from imitation_learning_data_pipeline_spark.pipeline.delta_log import (
            read_delta_snapshot,
            sync_delta_log_from_manifest,
        )
        from imitation_learning_data_pipeline_spark.pipeline.manifest import (
            write_manifest,
        )

        p = str(tmp_path / "t3")
        df = spark.createDataFrame([(1, "a")], "id long, v string")
        df.coalesce(1).write.mode("overwrite").parquet(p)
        write_manifest(spark, p)
        sync_delta_log_from_manifest(spark, p)  # v0
        for i in range(10):  # v1..v10 — v10 checkpoints
            df.coalesce(1).write.mode("append").parquet(p)
            write_manifest(spark, p)
            out = sync_delta_log_from_manifest(spark, p)
        assert out["version"] == 10
        log = os.path.join(p, "_delta_log")
        assert os.path.exists(
            os.path.join(log, f"{10:020d}.checkpoint.parquet")
        )
        hint = json.load(open(os.path.join(log, "_last_checkpoint")))
        assert hint["version"] == 10 and hint["parts"] == 1
        snap = read_delta_snapshot(spark, p)
        assert snap["version"] == 10
        assert len(snap["files"]) == 11
        assert snap["metadata"] and snap["metadata"]["schemaString"]
        # the chain keeps extending past the checkpoint
        df.coalesce(1).write.mode("append").parquet(p)
        write_manifest(spark, p)
        assert sync_delta_log_from_manifest(spark, p)["version"] == 11
        intact = read_delta_snapshot(spark, p)
        assert len(intact["files"]) == 12
        # the hint is best-effort: a torn one falls back to the listing
        with open(os.path.join(log, "_last_checkpoint"), "w") as fh:
            fh.write('{"version": 1')
        assert read_delta_snapshot(spark, p) == intact

    def test_enable_requires_manifest(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline.delta_log import (
            auto_delta_sync_enabled,
            enable_auto_delta_sync,
        )

        p = str(tmp_path / "nomanifest")
        spark.createDataFrame([(1,)], "id long").write.parquet(p)
        with pytest.raises(ValueError, match="no _manifest"):
            enable_auto_delta_sync(spark, p)
        # marker must NOT land on the failed enable
        assert auto_delta_sync_enabled(spark, p) is False


class TestUrlFunctions:
    """functions/url.py: the documented normalization subset, all JVM
    expressions (the contract hash-check lives in web_url_normalize)."""

    def _norm(self, spark, urls):
        from pyspark.sql import functions as F

        from imitation_learning_data_pipeline_spark.functions.url import (
            url_host,
            url_normalize,
            url_registrable_domain,
        )

        df = spark.createDataFrame([(u,) for u in urls], "url string")
        host = url_host(url_normalize(F.col("url")))
        return [
            (r["n"], r["h"], r["d"])
            for r in df.select(
                url_normalize(F.col("url")).alias("n"),
                host.alias("h"),
                url_registrable_domain(host).alias("d"),
            ).collect()
        ]

    def test_normalization_contract(self, spark):
        rows = self._norm(spark, [
            "HTTP://WWW.Example.COM:80/Path/A?utm_source=x&id=7#frag",
            "https://Sub.Site.co.uk:443/",
            "https://site.org",                      # empty path -> /
            "http://a.io/p?fbclid=1&q=2&utm_medium=m&z=3",
            "  http://ws.io/x  ",                    # trimmed
            "not-a-url",                             # schemeless verbatim
            "http://user@Host.COM:8080/p",           # non-default port kept
        ])
        assert rows[0] == (
            "http://www.example.com/Path/A?id=7",
            "www.example.com",
            "example.com",
        )
        assert rows[1] == (
            "https://sub.site.co.uk/", "sub.site.co.uk", "site.co.uk"
        )
        assert rows[2] == ("https://site.org/", "site.org", "site.org")
        # survivor ORDER preserved, all trackers gone
        assert rows[3][0] == "http://a.io/p?q=2&z=3"
        assert rows[4][0] == "http://ws.io/x"
        assert rows[5] == ("not-a-url", "", "")
        assert rows[6] == (
            "http://user@host.com:8080/p", "host.com", "host.com"
        )

    def test_ipv6_and_case_consistency(self, spark):
        """r13 review: IPv6 literals come back intact (not '['), and
        the registrable-domain passthrough branch lowercases."""
        from pyspark.sql import functions as F

        from imitation_learning_data_pipeline_spark.functions.url import (
            url_host,
            url_registrable_domain,
        )

        rows = self._norm(spark, ["http://[2001:db8::1]:8080/x"])
        assert rows[0][1] == "[2001:db8::1]"
        df = spark.createDataFrame(
            [("Example.COM",), ("www.Example.COM",)], "h string"
        )
        doms = [
            r["d"]
            for r in df.select(
                url_registrable_domain(F.col("h")).alias("d")
            ).collect()
        ]
        assert doms == ["example.com", "example.com"]

    def test_ingest_normalize_urls_collapses_variants(
        self, spark, tmp_path, capsys
    ):
        from imitation_learning_data_pipeline_spark.cli import main

        d = tmp_path / "crawl"
        d.mkdir()
        _write_warc_gz(
            str(d / "s0.warc.gz"),
            [
                _warc_record(
                    "response", "HTTP://Dup.TEST:80/page#top",
                    _http_response(b"<p>first variant</p>"),
                ),
                _warc_record(
                    "response", "http://dup.test/page?utm_source=feed",
                    _http_response(b"<p>second variant</p>"),
                ),
                _warc_record(
                    "response", "http://other.test/page",
                    _http_response(b"<p>different page</p>"),
                ),
            ],
        )
        out = str(tmp_path / "docs")
        assert main([
            "ingest-warc", "--input", str(d), "--out", out,
            "--dedup-url", "--normalize-urls",
        ]) == 0
        rows = spark.read.parquet(out).collect()
        assert sorted(r["url"] for r in rows) == [
            "http://dup.test/page", "http://other.test/page"
        ]
        # WITHOUT normalization the variants stay distinct
        out2 = str(tmp_path / "docs2")
        main(["ingest-warc", "--input", str(d), "--out", out2, "--dedup-url"])
        assert spark.read.parquet(out2).count() == 3


class TestStreamingWarcIngest:
    """streaming/warc_stream.py: continuous crawl-landing ingest —
    exactly-once across arrivals and restarts via checkpointed file
    offsets + per-batch dynamic partition overwrite."""

    def _land(self, d, name, pages):
        _write_warc_gz(
            str(d / name),
            [
                _warc_record(
                    "response", f"http://{u}/", _http_response(body)
                )
                for u, body in pages
            ],
        )

    def test_three_arrivals_exactly_once(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.streaming.warc_stream import (
            run_incremental_warc_ingest,
        )

        land = tmp_path / "landing"
        land.mkdir()
        docs = str(tmp_path / "docs")
        ckpt = str(tmp_path / "ckpt")
        self._land(land, "seg0.warc.gz", [
            ("a.test", b"<p>alpha page</p>"),
            ("b.test", b"<p>beta page</p>"),
        ])
        run_incremental_warc_ingest(spark, str(land), docs, ckpt)
        first = spark.read.parquet(docs).collect()
        assert {r["url"] for r in first} == {
            "http://a.test/", "http://b.test/"
        }
        ids1 = {r["url"]: r["doc_id"] for r in first}

        # second arrival: ONLY the new file is parsed and appended
        self._land(land, "seg1.warc.gz", [("c.test", b"<p>gamma page</p>")])
        run_incremental_warc_ingest(spark, str(land), docs, ckpt)
        second = spark.read.parquet(docs).collect()
        assert {r["url"] for r in second} == {
            "http://a.test/", "http://b.test/", "http://c.test/"
        }
        # earlier docs unchanged — ids are pure (file, offset) functions
        assert {
            r["url"]: r["doc_id"] for r in second if r["url"] != "http://c.test/"
        } == ids1
        # distinct micro-batches landed distinct partitions
        assert len({r["ingest_batch"] for r in second}) == 2

        # no-new-data replay: nothing duplicates, nothing changes
        run_incremental_warc_ingest(spark, str(land), docs, ckpt)
        assert sorted(
            (r["url"], r["doc_id"]) for r in spark.read.parquet(docs).collect()
        ) == sorted((r["url"], r["doc_id"]) for r in second)


_GOOD_PARA = (
    "the committee reviewed all of the proposals and decided that they "
    "would have to publish the findings because the community was "
    "waiting for an answer about the policy and how it would be applied "
    "to the cases that have been open since the start of the year"
)


class TestMainContentExtraction:
    """operators/html_text.py jusText-lite: block classification with
    the published context-free thresholds + simplified adjacency."""

    def test_classify_blocks_table(self):
        from imitation_learning_data_pipeline_spark.operators.html_text import (
            classify_blocks,
        )

        nav = ("home about contact pricing blog careers", 38)  # linked
        copyright_ = ("© 2026 example corp all rights reserved " * 3, 0)
        good = (_GOOD_PARA, 0)
        keyword_stuff = (
            "buy cheap widgets best widgets premium widgets discount "
            "widgets widget sale widget deals " * 5,
            0,
        )
        short = ("read the next section", 0)
        labels = classify_blocks([nav, copyright_, good, short, keyword_stuff])
        assert labels[0] == "bad"  # link density
        assert labels[1] == "bad"  # copyright mark
        assert labels[2] == "good"  # long + stopword-rich
        assert labels[3] == "good"  # short, adjacent to good
        assert labels[4] == "bad"  # long but stopword-poor
        # the same short block surrounded by bad stays bad
        labels2 = classify_blocks([nav, short, keyword_stuff])
        assert labels2[1] == "bad"
        # r13 review: attached punctuation must not mask stopwords —
        # the same good paragraph, densely punctuated, still passes
        punctuated = (
            _GOOD_PARA.replace(" the ", " the, ")
            .replace(" of ", ' "of" ')
            .replace(" and ", " and. "),
            0,
        )
        assert classify_blocks([punctuated]) == ["good"]

    def test_extract_main_text_end_to_end(self):
        from imitation_learning_data_pipeline_spark.operators.html_text import (
            extract_main_text,
        )

        html = (
            "<html><body>"
            '<nav><a href="/">home</a> <a href="/a">about</a> '
            '<a href="/b">contact</a> <a href="/c">pricing</a></nav>'
            f"<p>{_GOOD_PARA}</p>"
            f"<p>{_GOOD_PARA} and the report was published on time</p>"
            "<footer>© 2026 example corp</footer>"
            "</body></html>"
        )
        out = extract_main_text(html)
        assert out["n_blocks"] == 4
        assert out["n_good_blocks"] == 2
        assert out["main_text"].startswith("the committee reviewed")
        assert "©" not in out["main_text"]
        assert "home" not in out["main_text"]
        assert out["removed_chars"] > 0

    def test_spark_operator_with_charset(self, spark):
        from imitation_learning_data_pipeline_spark.operators.html_text import (
            extract_main_content,
        )

        page = (
            f"<p>{_GOOD_PARA} café</p>"
            '<nav><a href="/">x</a><a href="/">y</a><a href="/">z</a></nav>'
        )
        df = spark.createDataFrame(
            [
                (1, page.encode("latin-1"), "text/html; charset=ISO-8859-1",
                 "http://a/"),
                (2, b"<p>tiny</p>", "text/html", "http://b/"),
            ],
            "doc_id long, html binary, content_type string, url string",
        )
        rows = {
            r["doc_id"]: r
            for r in extract_main_content(
                df, content_type_col="content_type", passthrough=("url",)
            ).collect()
        }
        assert "café" in rows[1]["main_text"]
        assert rows[1]["n_good_blocks"] == 1
        assert rows[1]["url"] == "http://a/"
        assert rows[1]["stopword_lang"] == "en"
        assert rows[1]["no_stopword_signal"] is False
        # r14: a page with ~no stopword signal is FLAGGED and kept (the
        # language-independent fallback), never silently emptied — the
        # pre-r14 behavior (main_text == "") destroyed non-English
        # corpora (VERDICT r13 #1)
        assert rows[2]["no_stopword_signal"] is True
        assert rows[2]["stopword_lang"] is None
        assert rows[2]["main_text"] == "tiny"


class TestIngestMainContent:
    def test_cli_main_content_mode(self, spark, tmp_path, capsys):
        """--main-content: text is the boilerplate-REMOVED block set,
        same ingest filters, URL dedup still applies."""
        from imitation_learning_data_pipeline_spark.cli import main

        d = tmp_path / "crawl"
        d.mkdir()
        page = (
            "<html><head><title>Mixed</title></head><body>"
            '<nav><a href="/">home</a> <a href="/a">about</a> '
            '<a href="/b">contact</a> <a href="/c">more</a></nav>'
            f"<p>{_GOPHER_OK}</p>"
            "<footer>© 2026 example corp</footer></body></html>"
        ).encode()
        _write_warc_gz(
            str(d / "s0.warc.gz"),
            [
                _warc_record(
                    "response", "http://m.test/", _http_response(page)
                ),
                _warc_record(  # refetch — dedup keeps one
                    "response", "http://m.test/", _http_response(page)
                ),
            ],
        )
        out = str(tmp_path / "docs")
        assert main([
            "ingest-warc", "--input", str(d), "--out", out,
            "--main-content", "--dedup-url",
        ]) == 0
        rows = spark.read.parquet(out).collect()
        assert len(rows) == 1
        r = rows[0]
        assert r["title"] == "Mixed"
        assert r["text"].startswith("the team decided")
        assert "home" not in r["text"] and "©" not in r["text"]
        assert r["n_good_blocks"] == 1 and r["removed_chars"] > 0

    def test_main_content_excludes_link_density_gate(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.plans.web import (
            ingest_warc_plan,
        )

        with pytest.raises(ValueError, match="pass one or the other"):
            ingest_warc_plan(
                spark, str(tmp_path), max_link_density=0.5, main_content=True
            )


class TestIngestContentTypeCaseInsensitive:
    def test_upper_case_content_type_survives_filter(
        self, spark, tmp_path, capsys
    ):
        """ADVICE r12: HTTP Content-Type values are case-insensitive;
        'Text/HTML' pages must not be silently dropped."""
        from imitation_learning_data_pipeline_spark.cli import main

        d = tmp_path / "crawl"
        d.mkdir()
        _write_warc_gz(
            str(d / "s0.warc.gz"),
            [
                _warc_record(
                    "response", "http://caps.test/",
                    _http_response(
                        b"<p>shouty headers</p>",
                        ctype=b"Text/HTML; charset=UTF-8",
                    ),
                ),
                _warc_record(
                    "response", "http://png.test/",
                    _http_response(b"\x89PNG...", ctype=b"IMAGE/PNG"),
                ),
            ],
        )
        out = str(tmp_path / "docs")
        assert main([
            "ingest-warc", "--input", str(d), "--out", out,
            "--content-type", "text/html",
        ]) == 0
        rows = spark.read.parquet(out).collect()
        assert [r["url"] for r in rows] == ["http://caps.test/"]
        assert rows[0]["text"] == "shouty headers"
