"""Round-7d: Gopher quality rules, live-file manifest, SemDeDup,
perplexity filtering, corpus diff, curriculum ordering, bucket-pair
candidate generation, OPTIMIZE-with-layout, and their CLI verbs.

Coverage: each published Gopher rule trips on a purpose-built document
while a clean document passes all seven (pure-projection plan); the
manifest stays listing-consistent through merge/delete/update deltas,
compaction swaps, lock contention, and the crash-window fallback;
SemDeDup keeps exactly one (farthest-from-centroid) member per
semantic group; _bucket_pairs reproduces the self-join pair multiset
on a randomized band frame; curriculum ranks are the exact global
order with no global sort; compact's cluster/zorder layouts leave
disjoint / both-dim-bounded per-file ranges.
"""

from __future__ import annotations

from imitation_learning_data_pipeline_spark.plans.text import gopher_rules

GOOD = (
    "The project has a set of tools to work with and the results have "
    "been good because the team chose to work with care and that focus "
    "paid off over time for all of the people involved in it today. "
) * 3  # ~90 words, stopword-rich, clean prose


def _frame(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _one(df):
    rows = df.collect()
    assert len(rows) == 1
    return rows[0].asDict()


class TestGopherRules:
    def test_clean_doc_passes_all_rules(self, spark):
        r = _one(gopher_rules(_frame(spark, [(1, GOOD)])))
        for k, v in r.items():
            if k.startswith("r_") or k == "keep":
                assert v is True, f"{k} unexpectedly failed: {r}"

    def test_short_doc_fails_word_count_only(self, spark):
        r = _one(gopher_rules(_frame(spark, [(1, "the and to be that have with of short")])))
        assert r["r_word_count"] is False and r["keep"] is False
        assert r["r_stopwords"] is True and r["r_alpha_words"] is True

    def test_symbol_ratio_rule(self, spark):
        # >10% of words' worth of # symbols
        text = GOOD + " " + "#" * 30
        r = _one(gopher_rules(_frame(spark, [(1, text)])))
        assert r["r_symbol_ratio"] is False
        assert r["symbol_word_ratio"] > 0.1

    def test_ellipsis_counts_in_symbol_ratio(self, spark):
        text = GOOD + " " + "... " * 30
        r = _one(gopher_rules(_frame(spark, [(1, text)])))
        assert r["r_symbol_ratio"] is False

    def test_bullet_lines_rule(self, spark):
        lines = ["- item %d" % i for i in range(20)] + [GOOD]
        r = _one(gopher_rules(_frame(spark, [(1, "\n".join(lines))])))
        assert r["r_bullet_lines"] is False
        assert r["bullet_line_frac"] > 0.9

    def test_ellipsis_lines_rule(self, spark):
        lines = ["this line trails off..." for _ in range(10)] + [GOOD]
        r = _one(gopher_rules(_frame(spark, [(1, "\n".join(lines))])))
        assert r["r_ellipsis_lines"] is False

    def test_alpha_words_rule(self, spark):
        text = GOOD + " " + " ".join(str(i) for i in range(200))
        r = _one(gopher_rules(_frame(spark, [(1, text)])))
        assert r["r_alpha_words"] is False
        assert r["alpha_word_frac"] < 0.8

    def test_mean_word_len_rule(self, spark):
        text = " ".join(["pneumonoultramicroscopic"] * 60)
        r = _one(gopher_rules(_frame(spark, [(1, text)])))
        assert r["r_mean_word_len"] is False

    def test_stopword_threshold_default_vs_override(self, spark):
        # exactly one required stopword present
        text = " ".join(["data"] * 60) + " the"
        df = _frame(spark, [(1, text)])
        assert _one(gopher_rules(df))["r_stopwords"] is False  # ≥2 default
        assert (
            _one(gopher_rules(df, min_required_stopwords=1))["r_stopwords"]
            is True
        )

    def test_empty_text_is_all_zero_not_null(self, spark):
        r = _one(gopher_rules(_frame(spark, [(1, "")])))
        assert r["n_words"] == 0
        assert r["mean_word_len"] == 0.0
        assert r["keep"] is False

    def test_plan_is_pure_projection(self, spark):
        df = gopher_rules(_frame(spark, [(1, GOOD), (2, "x")]))
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan


class TestManifest:
    """Live-file manifest (pipeline/manifest.py): list-free reads kept
    fresh incrementally by copy-on-write commits."""

    def _write(self, spark, path, n=500, files=6):
        spark.range(n).selectExpr(
            "id AS k", "CAST(id * 10 AS DOUBLE) AS v"
        ).repartition(files).write.parquet(path)

    def test_bootstrap_matches_listing_and_read(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline import manifest as man

        t = str(tmp_path / "t")
        self._write(spark, t)
        payload = man.write_manifest(spark, t)
        assert len(payload["files"]) == 6
        diff = man.verify_manifest(spark, t)
        assert diff["missing"] == [] and diff["extra"] == []
        got = sorted(r["k"] for r in man.read_via_manifest(spark, t).collect())
        assert got == list(range(500))

    def test_merge_applies_delta_without_relist(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline import manifest as man
        from imitation_learning_data_pipeline_spark.pipeline.merge import merge_into

        t = str(tmp_path / "t")
        self._write(spark, t)
        man.write_manifest(spark, t)
        upd = spark.createDataFrame(
            [(3, -1.0), (700, -2.0)], "k long, v double"
        )
        merge_into(spark, t, upd, key="k")
        # the commit hook must have folded its delta in (op == "delta",
        # not a wholesale refresh) and the result must match a listing
        cur = man.read_manifest_entries(spark, t)
        assert cur["op"] == "delta"
        diff = man.verify_manifest(spark, t)
        assert diff["missing"] == [] and diff["extra"] == []
        rows = {r["k"]: r["v"] for r in man.read_via_manifest(spark, t).collect()}
        assert rows[3] == -1.0 and rows[700] == -2.0 and len(rows) == 501

    def test_delete_and_update_keep_manifest_fresh(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline import manifest as man
        from imitation_learning_data_pipeline_spark.pipeline.merge import (
            delete_from,
            update_where,
        )
        from pyspark.sql import functions as F

        t = str(tmp_path / "t")
        self._write(spark, t)
        man.write_manifest(spark, t)
        delete_from(spark, t, F.col("k") < 100)
        diff = man.verify_manifest(spark, t)
        assert diff["missing"] == [] and diff["extra"] == []
        update_where(spark, t, F.col("k") == 200, {"v": F.lit(0.0)})
        diff = man.verify_manifest(spark, t)
        assert diff["missing"] == [] and diff["extra"] == []
        rows = {r["k"]: r["v"] for r in man.read_via_manifest(spark, t).collect()}
        assert len(rows) == 400 and rows[200] == 0.0

    def test_partitioned_read_keeps_partition_columns(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline import manifest as man

        t = str(tmp_path / "t")
        spark.range(100).selectExpr(
            "id AS k", "CAST(id % 3 AS STRING) AS part"
        ).write.partitionBy("part").parquet(t)
        man.write_manifest(spark, t)
        df = man.read_via_manifest(spark, t)
        assert "part" in df.columns
        assert df.count() == 100
        assert df.filter("part = '1'").count() == 33

    def test_pending_journal_falls_back_to_listing(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline import manifest as man

        t = str(tmp_path / "t")
        self._write(spark, t)
        man.write_manifest(spark, t)
        # simulate the crash window: a new data file landed but the
        # manifest delta never applied, and the journal is still present
        spark.range(500, 600).selectExpr(
            "id AS k", "CAST(id * 10 AS DOUBLE) AS v"
        ).coalesce(1).write.mode("append").parquet(t)
        (tmp_path / "t" / "__merge_pending.json").write_text(
            '{"add": [], "delete": []}'
        )
        got = man.read_via_manifest(spark, t).count()
        assert got == 600  # listing fallback, not the stale manifest

    def test_compact_refreshes_manifest(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline import manifest as man
        from imitation_learning_data_pipeline_spark.pipeline.compact import compact

        t = str(tmp_path / "t")
        self._write(spark, t, files=12)
        man.write_manifest(spark, t)
        compact(spark, t, target_bytes=1 << 30)
        assert man.has_manifest(spark, t)  # survived the dir swap
        diff = man.verify_manifest(spark, t)
        assert diff["missing"] == [] and diff["extra"] == []
        assert diff["n_files"] < 12
        assert man.read_via_manifest(spark, t).count() == 500

    def test_non_manifested_table_pays_nothing(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline import manifest as man
        from imitation_learning_data_pipeline_spark.pipeline.merge import merge_into

        t = str(tmp_path / "t")
        self._write(spark, t)
        upd = spark.createDataFrame([(3, -1.0)], "k long, v double")
        merge_into(spark, t, upd, key="k")
        assert not man.has_manifest(spark, t)
        import os

        assert not os.path.exists(str(tmp_path / "t" / "_manifest"))

    def test_cluster_write_restores_opt_in(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline import manifest as man
        from imitation_learning_data_pipeline_spark.pipeline.merge import cluster_write

        t = str(tmp_path / "t")
        self._write(spark, t)
        man.write_manifest(spark, t)
        fresh = spark.range(500).selectExpr(
            "id AS k", "CAST(id * 10 AS DOUBLE) AS v"
        )
        cluster_write(fresh, t, by="k", n_files=3)
        assert man.has_manifest(spark, t)
        diff = man.verify_manifest(spark, t)
        assert diff["missing"] == [] and diff["extra"] == []

    def test_manifest_cli(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.cli import main as cli_main

        t = str(tmp_path / "t")
        self._write(spark, t)
        assert cli_main(["manifest", "--path", t]) == 0
        assert cli_main(["manifest", "--path", t, "--verify"]) == 0

    def test_manifest_verify_cli_fails_when_a_listed_file_is_gone(
        self, spark, tmp_path, capsys
    ):
        """The gate path: --verify exits 1, and its summary names the
        data file that vanished from under the manifest."""
        import glob
        import json
        import os

        from imitation_learning_data_pipeline_spark.cli import main as cli_main

        t = str(tmp_path / "t")
        self._write(spark, t)
        assert cli_main(["manifest", "--path", t]) == 0
        gone = os.path.basename(sorted(glob.glob(f"{t}/*.parquet"))[0])
        os.remove(f"{t}/{gone}")
        capsys.readouterr()
        assert cli_main(["manifest", "--path", t, "--verify"]) == 1
        summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert summary["missing"] == []
        assert [os.path.basename(f) for f in summary["extra"]] == [gone]


class TestSemDeDup:
    """SemDeDup (plans/mllib_ops.py::semdedup): cluster-blocked semantic
    dedup with keep-farthest-from-centroid representatives."""

    def _corpus(self, spark):
        # two tight semantic groups far apart + two singletons; group A
        # has three near-identical members, group B two exact copies
        rows = [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.999, 0.01, 0.0]),
            (3, [0.998, 0.02, 0.0]),
            (10, [0.0, 1.0, 0.0]),
            (11, [0.0, 1.0, 0.0]),
            (20, [0.0, 0.0, 1.0]),
            (21, [0.7, 0.7, 0.0]),
        ]
        return spark.createDataFrame(rows, "vec_id long, v array<double>")

    def test_one_keeper_per_group_singletons_kept(self, spark):
        from imitation_learning_data_pipeline_spark.plans.mllib_ops import semdedup

        out = semdedup(self._corpus(spark), k=3, threshold=0.95).collect()
        by_id = {r["vec_id"]: r for r in out}
        assert len(by_id) == 7
        # groups: {1,2,3} and {10,11} are near-dups; 20, 21 singletons
        ga = [by_id[i] for i in (1, 2, 3)]
        gb = [by_id[i] for i in (10, 11)]
        assert len({r["cluster_id"] for r in ga}) == 1
        assert ga[0]["cluster_id"] is not None
        assert sum(r["keep"] for r in ga) == 1
        assert sum(r["keep"] for r in gb) == 1
        for i in (20, 21):
            assert by_id[i]["cluster_id"] is None and by_id[i]["keep"] is True

    def test_keeps_lowest_centroid_similarity(self, spark):
        from imitation_learning_data_pipeline_spark.plans.mllib_ops import semdedup

        out = semdedup(self._corpus(spark), k=3, threshold=0.95).collect()
        grp = [r for r in out if r["vec_id"] in (1, 2, 3)]
        kept = [r for r in grp if r["keep"]][0]
        assert kept["centroid_sim"] == min(r["centroid_sim"] for r in grp)


class TestPerplexityFiltering:
    """Perplexity filtering (plans/sampling.py): mapInPandas scorer
    plumbing + bucket-stratified deterministic sampling."""

    def test_score_with_model_requires_scorer(self, spark):
        import pytest as _pytest

        from imitation_learning_data_pipeline_spark.plans.sampling import (
            score_with_model,
        )

        df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        with _pytest.raises(NotImplementedError):
            score_with_model(df)

    def test_injected_scorer_batches_and_schema(self, spark):
        from imitation_learning_data_pipeline_spark.plans.sampling import (
            score_with_model,
        )

        rows = [(i, "w " * (i + 1)) for i in range(40)]
        df = spark.createDataFrame(rows, "doc_id long, text string")

        def scorer(texts):
            # fake LM: "perplexity" = word count (one call per batch)
            return texts.str.split().str.len().astype("float64")

        out = score_with_model(df, scorer, batch_size=16)
        assert out.schema["ppl_score"].dataType.typeName() == "double"
        got = {r["doc_id"]: r["ppl_score"] for r in out.collect()}
        assert got[0] == 1.0 and got[39] == 40.0 and len(got) == 40

    def test_bucket_sample_deterministic_and_rate_shaped(self, spark):
        from imitation_learning_data_pipeline_spark.plans.sampling import (
            perplexity_bucket_sample,
            proxy_perplexity_score,
        )

        docs = spark.range(4000).selectExpr(
            "id AS doc_id", "concat('doc ', id) AS text"
        )
        scored = docs.select(
            "doc_id", proxy_perplexity_score("text").alias("ppl_score")
        )
        kept = perplexity_bucket_sample(scored)
        a = sorted(r["doc_id"] for r in kept.collect())
        b = sorted(r["doc_id"] for r in kept.collect())
        assert a == b  # rerun-stable
        by_bucket = {
            r["bucket"]: r["n"]
            for r in kept.groupBy("bucket").count().withColumnRenamed(
                "count", "n"
            ).collect()
        }
        # ~400 docs/bucket before sampling: full-rate middle buckets keep
        # ~4x the 10%-rate extremes
        assert by_bucket[4] > 2.5 * by_bucket[0]
        assert by_bucket[5] > 2.5 * by_bucket[9]

    def test_rate_length_guard(self, spark):
        import pytest as _pytest

        from imitation_learning_data_pipeline_spark.plans.sampling import (
            perplexity_bucket_sample,
        )

        df = spark.createDataFrame([(1, 0.5)], "doc_id long, ppl_score double")
        with _pytest.raises(ValueError):
            perplexity_bucket_sample(df, keep_rates=[1.0, 0.5])


class TestQualityCli:
    def test_gate_summary_and_keep_only_output(self, spark, tmp_path, capsys):
        import json as _json

        from imitation_learning_data_pipeline_spark.cli import main as cli_main

        good = (
            "The project has a set of tools to work with and the results "
            "have been good because the team chose to work with care and "
            "that focus paid off over time for all of the people involved. "
        ) * 3
        rows = [(1, good), (2, "too short"), (3, good + " extra")]
        src = str(tmp_path / "docs")
        spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
        out = str(tmp_path / "kept")
        rc = cli_main(
            ["quality", "--path", src, "--out", out, "--keep-only"]
        )
        assert rc == 0
        summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert summary["n_docs"] == 3
        assert summary["keep"] == 0.6667
        kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
        assert kept == {1, 3}

    def test_ppl_sample_chain(self, spark, tmp_path, capsys):
        from imitation_learning_data_pipeline_spark.cli import main as cli_main

        good = (
            "The team and the tools have all of the care that work needs "
            "to be good and that focus paid off for the people involved. "
        ) * 3
        rows = [(i, good + f" tail {i}") for i in range(50)]
        src = str(tmp_path / "docs")
        spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
        out = str(tmp_path / "sampled")
        rc = cli_main(["quality", "--path", src, "--out", out, "--ppl-sample"])
        assert rc == 0
        sampled = spark.read.parquet(out)
        assert set(sampled.columns) == {"doc_id", "bucket"}
        n = sampled.count()
        assert 0 < n <= 50  # extremes thinned, middle kept

    def test_missing_column_raises(self, spark, tmp_path):
        import pytest as _pytest

        from imitation_learning_data_pipeline_spark.cli import main as cli_main

        src = str(tmp_path / "docs")
        spark.range(3).write.parquet(src)
        with _pytest.raises(SystemExit):
            cli_main(["quality", "--path", src])


class TestStreamingQualityGate:
    def test_stream_reports_match_batch_and_replay_replaces(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.plans.text import gopher_rules
        from imitation_learning_data_pipeline_spark.streaming.incremental import (
            run_incremental_quality_stream,
        )

        good = (
            "The team and the tools have all of the care that work needs "
            "to be good and that focus paid off for the people involved. "
        ) * 3
        rows = [(1, good), (2, "too short"), (3, good + " tail")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        src = str(tmp_path / "src")
        docs.repartition(3).write.parquet(src)
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        stream = spark.readStream.schema("doc_id long, text string").option(
            "maxFilesPerTrigger", 1
        ).parquet(src)
        run_incremental_quality_stream(stream, out, ckpt)
        got = {
            r["doc_id"]: (r["keep"], r["n_words"])
            for r in spark.read.parquet(out).collect()
        }
        want = {
            r["doc_id"]: (r["keep"], r["n_words"])
            for r in gopher_rules(docs).collect()
        }
        assert got == want and got[2][0] is False
        # replay with a fresh checkpoint: partitions replaced, not appended
        run_incremental_quality_stream(stream, out, str(tmp_path / "ck2"))
        assert spark.read.parquet(out).count() == 3


class TestCorpusDiff:
    def test_four_statuses(self, spark):
        from imitation_learning_data_pipeline_spark.plans.curation import corpus_diff

        old = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string"
        )
        new = spark.createDataFrame(
            [(1, "a"), (2, "B"), (4, "d")], "doc_id long, text string"
        )
        got = {r["doc_id"]: r["status"] for r in corpus_diff(old, new).collect()}
        assert got == {1: "UNCHANGED", 2: "CHANGED", 3: "REMOVED", 4: "ADDED"}

    def test_null_content_null_safe(self, spark):
        from imitation_learning_data_pipeline_spark.plans.curation import corpus_diff

        old = spark.createDataFrame([(1, None)], "doc_id long, text string")
        new = spark.createDataFrame([(1, None)], "doc_id long, text string")
        got = corpus_diff(old, new).collect()
        assert got[0]["status"] == "UNCHANGED"

    def test_digest_projection_before_join(self, spark):
        from imitation_learning_data_pipeline_spark.plans.curation import corpus_diff

        old = spark.createDataFrame([(1, "a" * 10)], "doc_id long, text string")
        df = corpus_diff(old, old)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the join inputs must already be the 16-byte digests — the text
        # column may not appear above the scan
        joined = plan.split("SortMergeJoin")[0] if "SortMergeJoin" in plan else plan
        assert "md5" in plan


class TestDiffCli:
    def test_counts_and_output(self, spark, tmp_path, capsys):
        import json as _json

        from imitation_learning_data_pipeline_spark.cli import main as cli_main

        old_p, new_p = str(tmp_path / "v1"), str(tmp_path / "v2")
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string"
        ).write.parquet(old_p)
        spark.createDataFrame(
            [(1, "a"), (2, "B"), (4, "d")], "doc_id long, text string"
        ).write.parquet(new_p)
        out = str(tmp_path / "status")
        rc = cli_main(["diff", "--old", old_p, "--new", new_p, "--out", out])
        assert rc == 0
        summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert summary == {
            "ADDED": 1, "REMOVED": 1, "CHANGED": 1, "UNCHANGED": 1
        }
        st = {r["doc_id"]: r["status"] for r in spark.read.parquet(out).collect()}
        assert st[4] == "ADDED" and st[3] == "REMOVED"

    def test_missing_column_guard(self, spark, tmp_path):
        import pytest as _pytest

        from imitation_learning_data_pipeline_spark.cli import main as cli_main

        p = str(tmp_path / "v")
        spark.range(2).write.parquet(p)
        with _pytest.raises(SystemExit):
            cli_main(["diff", "--old", p, "--new", p])


class TestManifestCrashOrdering:
    def test_delta_failure_leaves_journal_for_fallback(
        self, spark, tmp_path, monkeypatch
    ):
        """The manifest delta must apply INSIDE the journaled window: if
        it dies, the journal must still exist (readers fall back to a
        listing) and recovery must heal both commit and manifest."""
        import os

        from imitation_learning_data_pipeline_spark.pipeline import manifest as man
        from imitation_learning_data_pipeline_spark.pipeline import merge as mg

        t = str(tmp_path / "t")
        spark.range(500).selectExpr(
            "id AS k", "CAST(id * 10 AS DOUBLE) AS v"
        ).repartition(6).write.parquet(t)
        man.write_manifest(spark, t)

        def boom(*a, **kw):
            raise RuntimeError("injected manifest failure")

        monkeypatch.setattr(man, "apply_deltas", boom)
        upd = spark.createDataFrame([(3, -1.0)], "k long, v double")
        try:
            mg.merge_into(spark, t, upd, key="k")
            raise AssertionError("merge should have propagated the failure")
        except RuntimeError:
            pass
        # journal still present → manifest is untrusted, listing fallback
        assert os.path.exists(os.path.join(t, "__merge_pending.json"))
        assert man.read_via_manifest(spark, t).filter("k = 3").collect()[0][
            "v"
        ] == -1.0
        monkeypatch.undo()
        assert mg.recover(spark, t) is True
        diff = man.verify_manifest(spark, t)
        assert diff["missing"] == [] and diff["extra"] == []


class TestBucketPairsEquivalence:
    def test_matches_selfjoin_reference_with_caps_and_multiplicity(self, spark):
        """_bucket_pairs must emit exactly the pair set (and, with
        distinct=False, the pair multiset) the old bucket self-join
        produced — including cap exclusions — on a seeded random band
        frame with planted over-cap and singleton buckets."""
        import random
        from collections import Counter

        from imitation_learning_data_pipeline_spark.plans.dedup import _bucket_pairs

        rng = random.Random(7)
        rows = []
        for bucket in range(60):
            size = rng.choice([1, 1, 2, 3, 5, 9, 25])  # 25 > cap below
            members = rng.sample(range(10000), size)
            for m in members:
                rows.append((m, rng.randint(0, 3), f"b{bucket}"))
        bands = spark.createDataFrame(
            rows, "doc_id long, band int, bucket string"
        )
        cap = 20

        # pure-Python reference: per (band, bucket) group, all i<j pairs
        groups = {}
        for d, band, bucket in rows:
            groups.setdefault((band, bucket), []).append(d)
        ref = Counter()
        for ids in groups.values():
            if len(ids) < 2 or len(ids) > cap:
                continue
            ids = sorted(ids)
            for i in range(len(ids)):
                for j in range(i + 1, len(ids)):
                    ref[(ids[i], ids[j])] += 1

        got_multi = Counter(
            (r["doc_a"], r["doc_b"])
            for r in _bucket_pairs(
                bands, ["band", "bucket"], cap, distinct=False
            ).collect()
        )
        assert got_multi == ref
        got_distinct = {
            (r["doc_a"], r["doc_b"])
            for r in _bucket_pairs(bands, ["band", "bucket"], cap).collect()
        }
        assert got_distinct == set(ref)


class TestCurriculumPlan:
    def test_contiguous_global_rank_level_ordered(self, spark):
        from imitation_learning_data_pipeline_spark.plans.sampling import (
            curriculum_plan,
        )

        leveled = spark.createDataFrame(
            [(i, i % 3) for i in range(300)], "doc_id long, level long"
        )
        out = curriculum_plan(leveled, n_shards=8).collect()
        ranks = sorted(r["curriculum_rank"] for r in out)
        assert ranks == list(range(300))  # contiguous 0..N-1
        max_by_level = {}
        min_by_level = {}
        for r in out:
            max_by_level[r["level"]] = max(
                max_by_level.get(r["level"], -1), r["curriculum_rank"]
            )
            min_by_level[r["level"]] = min(
                min_by_level.get(r["level"], 1 << 60), r["curriculum_rank"]
            )
        assert max_by_level[0] < min_by_level[1] < max_by_level[1] < min_by_level[2]

    def test_deterministic_and_no_global_sort(self, spark):
        from imitation_learning_data_pipeline_spark.plans.sampling import (
            curriculum_plan,
        )

        leveled = spark.createDataFrame(
            [(i, 0) for i in range(200)], "doc_id long, level long"
        )
        df = curriculum_plan(leveled, n_shards=16)
        a = [r["curriculum_rank"] for r in sorted(df.collect(), key=lambda r: r["doc_id"])]
        b = [r["curriculum_rank"] for r in sorted(df.collect(), key=lambda r: r["doc_id"])]
        assert a == b
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the one range exchange of a global orderBy must NOT appear —
        # ordering comes from (level, shard) hash partitions + bases
        assert "rangepartitioning" not in plan.lower(), plan


class TestManifestLock:
    def test_bootstrap_respects_maintenance_lock(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline import manifest as man
        from imitation_learning_data_pipeline_spark.pipeline.compact import (
            ConcurrentMaintenanceError,
            _acquire_lock,
            _fs,
            release_lock,
        )
        import pytest as _pytest

        t = str(tmp_path / "t")
        spark.range(10).selectExpr("id AS k").write.parquet(t)
        fs, _ = _fs(spark, t)
        jvm_path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
        _acquire_lock(spark, fs, jvm_path, t, "test-holder")
        try:
            with _pytest.raises(ConcurrentMaintenanceError):
                man.write_manifest(spark, t)
        finally:
            release_lock(spark, t)
        # released → bootstrap succeeds and is consistent
        man.write_manifest(spark, t)
        diff = man.verify_manifest(spark, t)
        assert diff["missing"] == [] and diff["extra"] == []


class TestCompactLayout:
    """compact(cluster_by=/zorder_by=): in-place OPTIMIZE with layout."""

    def _file_ranges(self, spark, path, col):
        from pyspark.sql import functions as F

        rows = (
            spark.read.parquet(path)
            .groupBy(F.col("_metadata.file_path").alias("f"))
            .agg(F.min(col).alias("lo"), F.max(col).alias("hi"))
            .collect()
        )
        return sorted((r["lo"], r["hi"]) for r in rows)

    def test_cluster_by_gives_disjoint_ranges(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline.compact import compact

        t = str(tmp_path / "t")
        spark.range(20000).selectExpr(
            "id AS k", "CAST(id % 97 AS DOUBLE) AS v"
        ).repartition(40).write.parquet(t)
        out = compact(spark, t, target_bytes=60_000, cluster_by="k")
        assert out["files_after"] < 40
        assert out["layout"] == {"cluster_by": "k"}
        ranges = self._file_ranges(spark, t, "k")
        assert len(ranges) > 1
        for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
            assert hi_prev < lo_next  # disjoint per-file key ranges
        assert spark.read.parquet(t).count() == 20000

    def test_zorder_by_bounds_both_dims(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline.compact import compact

        t = str(tmp_path / "t")
        # two independent uniform dims — hash-scattered on write
        spark.range(60000).selectExpr(
            "CAST(id % 141 AS DOUBLE) AS a",
            "CAST((id * 7919) % 133 AS DOUBLE) AS b",
        ).repartition(40).write.parquet(t)
        compact(spark, t, target_bytes=25_000, zorder_by=["a", "b"])
        spans_a = [hi - lo for lo, hi in self._file_ranges(spark, t, "a")]
        spans_b = [hi - lo for lo, hi in self._file_ranges(spark, t, "b")]
        assert len(spans_a) >= 4
        # every file must cover a strict sub-range of BOTH dimensions
        # (a single-col clustering would leave the other dim full-span)
        assert sum(spans_a) / len(spans_a) < 0.75 * 140
        assert sum(spans_b) / len(spans_b) < 0.75 * 132
        assert spark.read.parquet(t).count() == 60000

    def test_guards(self, spark, tmp_path):
        import pytest as _pytest

        from imitation_learning_data_pipeline_spark.pipeline.compact import compact

        t = str(tmp_path / "t")
        spark.range(10).selectExpr("id AS k").write.parquet(t)
        with _pytest.raises(ValueError, match="flat tables only"):
            compact(spark, t, partition_col="split", cluster_by="k")
        with _pytest.raises(ValueError, match="not both"):
            compact(spark, t, cluster_by="k", zorder_by=["k", "v"])

    def test_cli_cluster_flag(self, spark, tmp_path, capsys):
        import json as _json

        from imitation_learning_data_pipeline_spark.cli import main as cli_main

        t = str(tmp_path / "t")
        spark.range(5000).selectExpr(
            "id AS k", "CAST(id AS DOUBLE) AS v"
        ).repartition(20).write.parquet(t)
        rc = cli_main(
            ["compact", "--path", t, "--target-mb", "1", "--cluster-by", "k"]
        )
        assert rc == 0
        out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["layout"] == {"cluster_by": ["k"]}


class TestSemDedupCli:
    def test_summary_and_assignments(self, spark, tmp_path, capsys):
        import json as _json

        from imitation_learning_data_pipeline_spark.cli import main as cli_main

        rows = [
            (1, [1.0, 0.0, 0.0]),
            (2, [1.0, 0.0, 0.0]),
            (10, [0.0, 1.0, 0.0]),
            (11, [0.0, 1.0, 0.0]),
            (20, [0.0, 0.0, 1.0]),
        ]
        src = str(tmp_path / "emb")
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        ).write.parquet(src)
        out = str(tmp_path / "assign")
        rc = cli_main(
            ["semdedup", "--path", src, "--k", "3", "--out", out]
        )
        assert rc == 0
        summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert summary["n_vectors"] == 5
        assert summary["n_kept"] == 3  # one per twin-group + singleton
        assert summary["n_groups"] == 2
        kept = {
            r["vec_id"]
            for r in spark.read.parquet(out).filter("keep").collect()
        }
        assert 20 in kept and len(kept) == 3

    def test_missing_column_guard(self, spark, tmp_path):
        import pytest as _pytest

        from imitation_learning_data_pipeline_spark.cli import main as cli_main

        p = str(tmp_path / "emb")
        spark.range(3).write.parquet(p)
        with _pytest.raises(SystemExit):
            cli_main(["semdedup", "--path", p])


class TestManifestPartitionedMerge:
    def test_partitioned_merge_keeps_manifest_fresh(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline import manifest as man
        from imitation_learning_data_pipeline_spark.pipeline.merge import merge_into

        t = str(tmp_path / "t")
        spark.range(300).selectExpr(
            "id AS k",
            "CAST(id AS DOUBLE) AS v",
            "CAST(id % 3 AS STRING) AS part",
        ).write.partitionBy("part").parquet(t)
        man.write_manifest(spark, t)
        upd = spark.createDataFrame(
            [(7, -1.0, "1"), (999, -2.0, "0")],
            "k long, v double, part string",
        )
        merge_into(spark, t, upd, key="k", partition_by=["part"])
        assert man.read_manifest_entries(spark, t)["op"] == "delta"
        diff = man.verify_manifest(spark, t)
        assert diff["missing"] == [] and diff["extra"] == []
        rows = {r["k"]: r["v"] for r in man.read_via_manifest(spark, t).collect()}
        assert rows[7] == -1.0 and rows[999] == -2.0 and len(rows) == 301


class TestCurriculumCli:
    def test_rank_parquet_and_level_spans(self, spark, tmp_path, capsys):
        import json as _json

        from imitation_learning_data_pipeline_spark.cli import main as cli_main

        src = str(tmp_path / "docs")
        spark.range(90).selectExpr(
            "id AS doc_id", "CAST(id % 3 AS INT) AS difficulty"
        ).write.parquet(src)
        out = str(tmp_path / "ranked")
        rc = cli_main(
            ["curriculum", "--path", src, "--out", out, "--level-col", "difficulty"]
        )
        assert rc == 0
        lines = [
            _json.loads(x)
            for x in capsys.readouterr().out.strip().splitlines()
            if x.startswith("{")
        ]
        assert [r["level"] for r in lines] == [0, 1, 2]
        assert lines[0]["rank_lo"] == 0 and lines[2]["rank_hi"] == 89
        assert lines[0]["rank_hi"] + 1 == lines[1]["rank_lo"]
        ranks = sorted(
            r["curriculum_rank"] for r in spark.read.parquet(out).collect()
        )
        assert ranks == list(range(90))

    def test_missing_level_col_guard(self, spark, tmp_path):
        import pytest as _pytest

        from imitation_learning_data_pipeline_spark.cli import main as cli_main

        src = str(tmp_path / "docs")
        spark.range(3).selectExpr("id AS doc_id").write.parquet(src)
        with _pytest.raises(SystemExit):
            cli_main(
                ["curriculum", "--path", src, "--out", str(tmp_path / "o"),
                 "--level-col", "nope"]
            )
