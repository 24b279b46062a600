"""Round-11 session-2 operators: fuzzy MinHash decontamination,
k-anonymity privacy audit, deterministic HLL sketches, DoReMi-style
domain reweighting."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

DOC_A = "the quick brown fox jumps over the lazy dog near the river bank today"
DOC_B = "colorless green ideas sleep furiously while syntax dreams of deep structure"
DOC_C = "a completely different document about spark shuffles and partition pruning"


class TestDecontamFuzzy:
    def _mk(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_exact_copy_found_at_jaccard_one(self, spark):
        """A normalized-identical copy has identical minhash signatures
        (every band collides), so recall is GUARANTEED, not
        probabilistic."""
        from imitation_learning_data_pipeline_spark.plans.dedup import decontam_fuzzy

        probe = self._mk(spark, [(1, DOC_A)])
        docs = self._mk(spark, [(100, DOC_A.upper() + " !!!"), (101, DOC_B)])
        out = decontam_fuzzy(docs, probe).collect()
        assert [(r.doc_id, r.probe_id, r.jaccard) for r in out] == [(100, 1, 1.0)]

    def test_near_copy_found_above_threshold(self, spark):
        """A long doc with a short appended tail (j≈0.87 — recall
        P≈0.99 on the LSH curve; this planted pair deterministically
        collides under the fixed hash family) is reported with its
        exact quantized Jaccard; an unrelated doc is not."""
        from imitation_learning_data_pipeline_spark.plans.dedup import decontam_fuzzy

        base = " ".join(f"word{i} token{i} item{i}" for i in range(12))
        probe = self._mk(spark, [(1, base)])
        docs = self._mk(
            spark,
            [(100, base + " tail marker words appended here"), (101, DOC_C)],
        )
        out = {(r.doc_id, r.probe_id): r.jaccard for r in decontam_fuzzy(docs, probe).collect()}
        assert set(out) == {(100, 1)}
        assert 0.5 <= out[(100, 1)] < 1.0

    def test_soundness_vs_brute_force(self, spark):
        """Every reported pair must carry the EXACT 3-gram Jaccard and
        clear the threshold — cross-checked against an all-pairs
        computation (LSH affects recall, never the reported values)."""
        from imitation_learning_data_pipeline_spark.plans.dedup import (
            decontam_fuzzy,
            exploded_shingles,
        )

        probe = self._mk(spark, [(1, DOC_A), (2, DOC_B)])
        docs = self._mk(
            spark,
            [
                (100, DOC_A),
                (101, DOC_A + " extra words at the end of it"),
                (102, DOC_B),
                (103, DOC_C),
            ],
        )
        got = {
            (r.doc_id, r.probe_id): r.jaccard
            for r in decontam_fuzzy(docs, probe).collect()
        }
        rows = exploded_shingles(docs).collect()
        p_rows = exploded_shingles(probe).collect()
        d_sh: dict[int, set] = {}
        for r in rows:
            d_sh.setdefault(r.doc_id, set()).add(r.s)
        p_sh: dict[int, set] = {}
        for r in p_rows:
            p_sh.setdefault(r.doc_id, set()).add(r.s)
        brute = {}
        for d, ds in d_sh.items():
            for p, ps in p_sh.items():
                j = len(ds & ps) / len(ds | ps)
                if j >= 0.5:
                    brute[(d, p)] = round(j, 4)
        # soundness: reported ⊆ brute with identical values
        for k, v in got.items():
            assert k in brute and abs(v - brute[k]) < 1e-9
        # guaranteed recall for identical-signature pairs
        assert (100, 1) in got and got[(100, 1)] == 1.0
        assert (102, 2) in got and got[(102, 2)] == 1.0

    def test_empty_probe_yields_empty(self, spark):
        from imitation_learning_data_pipeline_spark.plans.dedup import decontam_fuzzy

        probe = self._mk(spark, [])
        docs = self._mk(spark, [(100, DOC_A)])
        assert decontam_fuzzy(docs, probe).count() == 0


class TestKAnonymity:
    SCHEMA = "rid long, city string, age_band long, salary long"
    ROWS = [
        # class (a, 1): 3 members, 2 distinct salaries → k=3 ok, l=2 ok
        (1, "a", 1, 100),
        (2, "a", 1, 100),
        (3, "a", 1, 200),
        # class (a, 2): 2 members → k violation; 2 salaries → l ok
        (4, "a", 2, 100),
        (5, "a", 2, 300),
        # class (b, 1): 4 members, 1 salary → l violation only
        (6, "b", 1, 500),
        (7, "b", 1, 500),
        (8, "b", 1, 500),
        (9, "b", 1, 500),
        # class (b, 9): singleton → both violations
        (10, "b", 9, 700),
    ]

    def test_audit_flags(self, spark):
        from imitation_learning_data_pipeline_spark.plans.privacy import (
            k_anonymity_audit,
        )

        df = spark.createDataFrame(self.ROWS, self.SCHEMA)
        out = {
            (r.city, r.age_band): (r.class_size, r.n_sensitive, r.k_violation, r.l_violation)
            for r in k_anonymity_audit(df, ["city", "age_band"], "salary").collect()
        }
        assert out == {
            ("a", 1): (3, 2, 0, 0),
            ("a", 2): (2, 2, 1, 0),
            ("b", 1): (4, 1, 0, 1),
            ("b", 9): (1, 1, 1, 1),
        }

    def test_suppression_nulls_only_violating_classes(self, spark):
        from imitation_learning_data_pipeline_spark.plans.privacy import (
            suppress_small_classes,
        )

        df = spark.createDataFrame(self.ROWS, self.SCHEMA)
        out = {r.rid: r for r in suppress_small_classes(df, ["city", "age_band"]).collect()}
        assert len(out) == len(self.ROWS)  # row count preserved
        # violators (classes of size < 3): rids 4,5 and 10 → QI nulled
        for rid in (4, 5, 10):
            assert out[rid].city is None and out[rid].age_band is None
        # non-violators keep QI values, all rows keep non-QI columns
        for rid, city, band, sal in self.ROWS:
            assert out[rid].salary == sal
            if rid not in (4, 5, 10):
                assert out[rid].city == city and out[rid].age_band == band

    def test_suppressed_release_reaudits_clean(self, spark):
        """After suppression the merged NULL class has 3 members here,
        so a k=3 re-audit of the release shows zero k violations."""
        from imitation_learning_data_pipeline_spark.plans.privacy import (
            k_anonymity_audit,
            suppress_small_classes,
        )

        df = spark.createDataFrame(self.ROWS, self.SCHEMA)
        rel = suppress_small_classes(df, ["city", "age_band"])
        audit = k_anonymity_audit(rel, ["city", "age_band"], "salary")
        assert audit.agg(F.sum("k_violation")).collect()[0][0] == 0

    def test_degenerate_single_violator_stays_small(self, spark):
        """One singleton violator alone: the merged suppressed class is
        still size 1 — suppression is not magic, and the re-audit says
        so (the docstring's caveat)."""
        from imitation_learning_data_pipeline_spark.plans.privacy import (
            k_anonymity_audit,
            suppress_small_classes,
        )

        rows = [(1, "a", 1, 10), (2, "a", 1, 20), (3, "a", 1, 30), (4, "z", 9, 40)]
        df = spark.createDataFrame(rows, self.SCHEMA)
        rel = suppress_small_classes(df, ["city", "age_band"])
        audit = k_anonymity_audit(rel, ["city", "age_band"], "salary")
        viol = {(r.city, r.age_band): r.k_violation for r in audit.collect()}
        assert viol[(None, None)] == 1 and viol[("a", 1)] == 0


class TestHllRegisters:
    def _words(self, spark, words):
        return spark.createDataFrame([(w,) for w in words], "item string")

    def test_merge_property_is_exact(self, spark):
        """registers(A ∪ B) == merge(registers(A), registers(B)) as a
        SET equality — the property that makes the store incremental."""
        from imitation_learning_data_pipeline_spark.plans.hll import (
            hll_registers,
            merge_hll_registers,
        )

        a = self._words(spark, [f"tok{i}" for i in range(300)])
        b = self._words(spark, [f"tok{i}" for i in range(150, 600)])
        whole = hll_registers(a.unionByName(b))
        merged = merge_hll_registers(hll_registers(a), hll_registers(b))
        assert set(map(tuple, whole.collect())) == set(map(tuple, merged.collect()))

    def test_estimate_within_bound(self, spark):
        """p=8 → standard error 1.04/√256 ≈ 6.5%; assert within 3σ
        (deterministic given the fixed hash — measured ~2% here)."""
        from imitation_learning_data_pipeline_spark.plans.hll import (
            hll_estimate,
            hll_registers,
        )

        n = 5000
        regs = hll_registers(self._words(spark, [f"item-{i}" for i in range(n)]))
        est = hll_estimate(regs)
        assert abs(est - n) / n < 0.20

    def test_duplicates_do_not_move_registers(self, spark):
        from imitation_learning_data_pipeline_spark.plans.hll import hll_registers

        once = hll_registers(self._words(spark, ["a", "b", "c"]))
        thrice = hll_registers(self._words(spark, ["a", "b", "c"] * 3))
        assert set(map(tuple, once.collect())) == set(map(tuple, thrice.collect()))

    def test_fold_into_store_matches_whole(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.plans.hll import (
            fold_into_hll_store,
            hll_registers,
            read_hll_store,
        )

        path = str(tmp_path / "hll")
        batches = [
            [f"w{i}" for i in range(100)],
            [f"w{i}" for i in range(50, 220)],
            [f"x{i}" for i in range(40)],
        ]
        for b in batches:
            fold_into_hll_store(spark, hll_registers(self._words(spark, b)), path)
        whole = hll_registers(
            self._words(spark, [w for b in batches for w in b])
        )
        assert set(map(tuple, read_hll_store(spark, path).collect())) == set(
            map(tuple, whole.collect())
        )

    def test_datasketches_union_estimate(self, spark):
        from imitation_learning_data_pipeline_spark.plans.hll import (
            hll_union_datasketches,
        )

        a = self._words(spark, [f"u{i}" for i in range(400)])
        b = self._words(spark, [f"u{i}" for i in range(200, 700)])
        est = hll_union_datasketches([a, b], "item").collect()[0]["n_est"]
        assert abs(est - 700) / 700 < 0.05

    def test_p_must_be_nibble_aligned(self, spark):
        from imitation_learning_data_pipeline_spark.plans.hll import hll_registers

        with pytest.raises(ValueError):
            hll_registers(self._words(spark, ["a"]), p=10)


class TestDoremiWeights:
    def _corpus(self, spark, rows):
        return spark.createDataFrame(rows, "lang string, text string")

    def test_minority_distinct_domain_gets_excess_and_weight(self, spark):
        """A small domain with its own vocabulary is underfit by the
        pooled model (positive excess) and must be upweighted relative
        to the majority domain that IS the pool."""
        from imitation_learning_data_pipeline_spark.plans.doremi import (
            doremi_domain_weights,
        )

        easy = "the cat sat on the mat and the dog sat on the rug"
        hard = "quasar neutrino entanglement decoheres across inflaton manifolds"
        rows = [("easy", easy)] * 20 + [("hard", hard + f" epoch{i}") for i in range(3)]
        out = {
            r.domain: r
            for r in doremi_domain_weights(self._corpus(spark, rows)).collect()
        }
        assert out["hard"].excess_micro > out["easy"].excess_micro
        assert out["hard"].weight > out["easy"].weight

    def test_weights_sum_to_one_with_smoothing_floor(self, spark):
        from imitation_learning_data_pipeline_spark.plans.doremi import (
            _SMOOTH,
            doremi_domain_weights,
        )

        rows = [
            ("a", "alpha beta gamma delta epsilon zeta"),
            ("b", "one two three four five six seven"),
            ("c", "red green blue cyan magenta yellow"),
        ]
        ws = [r.weight for r in doremi_domain_weights(self._corpus(spark, rows)).collect()]
        assert abs(sum(ws) - 1.0) < 1e-4
        assert all(w >= _SMOOTH / len(ws) - 1e-9 for w in ws)

    def test_identical_domains_stay_uniform(self, spark):
        """Domains drawn from the same distribution have ~zero excess,
        so the one-step update must stay (near-)uniform."""
        from imitation_learning_data_pipeline_spark.plans.doremi import (
            doremi_domain_weights,
        )

        doc = "spark shuffles partitions across the cluster executors evenly"
        rows = [("a", doc), ("b", doc), ("c", doc)]
        ws = [r.weight for r in doremi_domain_weights(self._corpus(spark, rows)).collect()]
        assert max(ws) - min(ws) < 0.02

    def test_schema_feeds_mixture_plan(self, spark):
        from imitation_learning_data_pipeline_spark.plans.doremi import (
            doremi_domain_weights,
        )

        rows = [("a", "x y z"), ("b", "p q r")]
        df = doremi_domain_weights(self._corpus(spark, rows))
        assert df.columns == ["domain", "n_bigrams", "excess_micro", "weight"]


class TestRound11bCli:
    def test_privacy_verb(self, spark, tmp_path, capsys):
        import json

        from imitation_learning_data_pipeline_spark.cli import main

        rows = [(i, "a" if i < 9 else "z", 100 + i % 3) for i in range(10)]
        spark.createDataFrame(rows, "rid long, city string, salary long").write.parquet(
            str(tmp_path / "in")
        )
        rel = str(tmp_path / "release")
        rc = main(["privacy", "--input", str(tmp_path / "in"), "--quasi", "city",
                   "--sensitive", "salary", "--suppress", "--out", rel])
        assert rc == 0
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rep["classes"] == 2 and rep["k_violations"] == 1
        out = spark.read.parquet(rel)
        assert out.filter("city IS NULL").count() == 1  # the z singleton

    def test_hll_verb_folds_and_estimates(self, spark, tmp_path, capsys):
        import json

        from imitation_learning_data_pipeline_spark.cli import main

        store = str(tmp_path / "hll")
        for lo, hi, tag in ((0, 300, "b1"), (150, 500, "b2")):
            spark.createDataFrame(
                [(f"id{i}",) for i in range(lo, hi)], "doc_id string"
            ).write.parquet(str(tmp_path / tag))
            rc = main(["hll", "--input", str(tmp_path / tag), "--col", "doc_id",
                       "--store", store])
            assert rc == 0
        est = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert abs(est["distinct_estimate"] - 500) / 500 < 0.20
        # store-only read (no --input) reports without refolding
        rc = main(["hll", "--store", store])
        assert rc == 0

    def test_doremi_verb(self, spark, tmp_path, capsys):
        import json

        from imitation_learning_data_pipeline_spark.cli import main

        easy = "the cat sat on the mat and the dog sat on the rug"
        hard = "quasar neutrino entanglement decoheres across inflaton manifolds"
        rows = [("easy", easy)] * 12 + [("hard", hard)] * 2
        spark.createDataFrame(rows, "lang string, text string").write.parquet(
            str(tmp_path / "docs")
        )
        rc = main(["doremi", "--input", str(tmp_path / "docs")])
        assert rc == 0
        got = {
            j["domain"]: j
            for j in map(json.loads, capsys.readouterr().out.strip().splitlines())
        }
        assert got["hard"]["weight"] > got["easy"]["weight"]

    def test_decontam_fuzzy_flag(self, spark, tmp_path, capsys):
        import json

        from imitation_learning_data_pipeline_spark.cli import main

        base = " ".join(f"w{i} tok{i} itm{i}" for i in range(12))
        spark.createDataFrame([(1, base)], "doc_id long, text string").write.parquet(
            str(tmp_path / "probe")
        )
        spark.createDataFrame(
            [(100, base.upper()), (101, "totally unrelated text about nothing")],
            "doc_id long, text string",
        ).write.parquet(str(tmp_path / "corpus"))
        rc = main(["decontam", "--fuzzy", "--probe", str(tmp_path / "probe"),
                   "--input", str(tmp_path / "corpus")])
        assert rc == 0
        rows = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
        assert rows == [{"doc_id": 100, "probe_id": 1, "jaccard": 1.0}]


class TestFunnelDecontamStage:
    BASE = " ".join(f"w{i} tok{i} itm{i}" for i in range(12))

    def _docs(self, spark):
        return spark.createDataFrame(
            [
                (1, self.BASE),                              # exact leak
                (2, self.BASE + " tail words appended here"),  # fuzzy leak
                (3, "a clean document about spark partitions and shuffle planning"),
            ],
            "doc_id long, text string",
        )

    def _probe(self, spark):
        return spark.createDataFrame([(900, self.BASE)], "doc_id long, text string")

    def test_exact_mode_drops_any_overlap(self, spark):
        from imitation_learning_data_pipeline_spark.plans.curation import curation_funnel

        cur, report = curation_funnel(
            self._docs(spark),
            stages=("decontam",),
            decontam_probe=self._probe(spark),
        )
        # exact 5-gram overlap catches BOTH the copy and the tail-append
        assert sorted(r.doc_id for r in cur.collect()) == [3]
        assert report == [{"stage": "decontam", "rows_in": 3, "rows_out": 1}]

    def test_fuzzy_mode_uses_threshold(self, spark):
        from imitation_learning_data_pipeline_spark.plans.curation import curation_funnel

        cur, _ = curation_funnel(
            self._docs(spark),
            stages=("decontam",),
            decontam_probe=self._probe(spark),
            decontam_fuzzy_mode=True,
            decontam_threshold=0.99,  # only the exact copy clears 0.99
        )
        assert sorted(r.doc_id for r in cur.collect()) == [2, 3]

    def test_missing_probe_raises(self, spark):
        from imitation_learning_data_pipeline_spark.plans.curation import curation_funnel

        with pytest.raises(ValueError, match="decontam_probe"):
            curation_funnel(self._docs(spark), stages=("decontam",))

    def test_composes_lazily_with_chain(self, spark):
        """decontam inside the one-plan (report=False) chain: the
        composite pin discipline must keep the stage's double reference
        of `cur` correct."""
        from imitation_learning_data_pipeline_spark.plans.curation import curation_funnel

        cur, report = curation_funnel(
            self._docs(spark),
            stages=("gopher", "decontam", "dedup"),
            report=False,
            decontam_probe=self._probe(spark),
        )
        assert report == []
        ids = sorted(r.doc_id for r in cur.collect())
        assert 1 not in ids and 2 not in ids

    def test_cli_flag(self, spark, tmp_path, capsys):
        import json

        from imitation_learning_data_pipeline_spark.cli import main

        self._docs(spark).write.parquet(str(tmp_path / "docs"))
        self._probe(spark).write.parquet(str(tmp_path / "probe"))
        rc = main(["curate", "--path", str(tmp_path / "docs"),
                   "--stages", "decontam",
                   "--decontam-probe", str(tmp_path / "probe"),
                   "--out", str(tmp_path / "outp")])
        assert rc == 0
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rep["funnel"][0]["rows_out"] == 1
        assert spark.read.parquet(str(tmp_path / "outp")).count() == 1


class TestIvfIndexStore:
    def _emb(self, spark, n=60, dim=8, off=0):
        import math

        rows = []
        for i in range(n):
            # three well-separated blobs so cells are meaningful
            blob = i % 3
            base = [10.0 * blob + math.sin(i + d) for d in range(dim)]
            rows.append((off + i, [float(x) for x in base]))
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def _brute_topk(self, emb_rows, q_rows, k):
        import numpy as np

        out = {}
        for qid, qv in q_rows:
            q = np.array(qv)
            scored = []
            for vid, v in emb_rows:
                if vid == qid:
                    continue
                vv = np.array(v)
                c = float(q @ vv / (np.linalg.norm(q) * np.linalg.norm(vv)))
                scored.append((round(c, 6), -vid, vid))
            scored.sort(reverse=True)
            out[qid] = [vid for _, _, vid in scored[:k]]
        return out

    def test_full_probe_equals_brute_force(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.plans.mllib_ops import (
            search_ivf_index,
            write_ivf_index,
        )

        emb = self._emb(spark)
        path = str(tmp_path / "ivf")
        stats = write_ivf_index(emb, path, k=4)
        assert stats == {"cells": 4, "vectors": 60}
        qrows = [(r.vec_id, r.embedding) for r in emb.filter("vec_id < 3").collect()]
        queries = spark.createDataFrame(qrows, "qid long, v array<double>")
        got = search_ivf_index(spark, path, queries, nprobe=4, k_neighbors=5,
                                exclude_self=True)
        got_map = {}
        for r in got.orderBy("qid", "rnk").collect():
            got_map.setdefault(r.qid, []).append(r.vec_id)
        brute = self._brute_topk(
            [(r.vec_id, r.embedding) for r in emb.collect()], qrows, 5
        )
        assert got_map == brute

    def test_partition_pruning_reads_fraction(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.plans.mllib_ops import (
            ivf_scan_fraction,
            write_ivf_index,
        )

        emb = self._emb(spark)
        path = str(tmp_path / "ivf")
        write_ivf_index(emb, path, k=6)
        queries = spark.createDataFrame(
            [(0, emb.filter("vec_id = 0").collect()[0].embedding)],
            "qid long, v array<double>",
        )
        frac = ivf_scan_fraction(spark, path, queries, nprobe=1)
        assert 0 < frac["files_read"] < frac["files_total"]

    def test_append_is_searchable_and_incremental(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.plans.mllib_ops import (
            append_ivf_index,
            search_ivf_index,
            write_ivf_index,
        )

        emb = self._emb(spark)
        path = str(tmp_path / "ivf")
        write_ivf_index(emb, path, k=4)
        # append a batch of near-duplicates of vec 0
        batch = spark.createDataFrame(
            [(1000, [v + 0.001 for v in emb.filter("vec_id = 0").collect()[0].embedding])],
            "vec_id long, embedding array<double>",
        )
        assert append_ivf_index(batch, path) == {"appended": 1}
        queries = spark.createDataFrame(
            [(0, emb.filter("vec_id = 0").collect()[0].embedding)],
            "qid long, v array<double>",
        )
        top = search_ivf_index(
            spark, path, queries, nprobe=1, k_neighbors=1, exclude_self=True
        ).collect()
        assert top[0].vec_id == 1000 and top[0].cos_sim >= 0.9999


    def test_failed_rebuild_keeps_the_previous_index(self, spark, tmp_path):
        """A rebuild that fails while writing its vectors leaves the
        previous centroids AND vectors, so searches still answer from
        the first build; the next write discards the failed staging."""
        import os

        from conftest import run_cli

        from imitation_learning_data_pipeline_spark.plans.mllib_ops import (
            append_ivf_index,
            write_ivf_index,
        )

        emb = self._emb(spark)
        path = str(tmp_path / "ivf")
        write_ivf_index(emb, path, k=3)

        def index():
            centroids = spark.read.parquet(f"{path}/centroids").collect()
            vectors = spark.read.parquet(f"{path}/vectors").collect()
            return (sorted((r.cell_id, tuple(r.center)) for r in centroids),
                    sorted((r.vec_id, r.cell_id) for r in vectors))

        first = index()
        emb.filter("vec_id < 3").write.parquet(str(tmp_path / "q"))
        query = ["ivf", "--path", path, "--query", str(tmp_path / "q"),
                 "--nprobe", "3", "--topk", "5"]
        before = run_cli(query)
        assert before.returncode == 0, before.stderr[-2000:]

        @F.udf("long")
        def boom(v):
            if v == 7:
                raise ValueError("injected write failure")
            return v

        # shifted vectors: a rebuild that landed would move the centroids
        bad = emb.select(
            boom("vec_id").alias("vec_id"),
            F.transform("embedding", lambda x: x + 5.0).alias("embedding"),
        )
        with pytest.raises(Exception, match="injected write failure"):
            write_ivf_index(bad, path, k=3)
        assert index() == first
        after = run_cli(query)
        assert after.returncode == 0 and after.stdout == before.stdout

        assert os.path.exists(path + ".tmp")
        append_ivf_index(emb.filter("vec_id = 0").selectExpr("1000 AS vec_id", "embedding"), path)
        assert not os.path.exists(path + ".tmp")


class TestIvfCli:
    def test_build_append_query_fraction(self, spark, tmp_path, capsys):
        import json

        from imitation_learning_data_pipeline_spark.cli import main

        # distinct directions per vector (0.07·i skew) so cosine has a
        # unique argmax; the appended batch vector is an exact SCALED
        # copy of the query (cos = 1.0, strictly above every corpus vec)
        emb = spark.createDataFrame(
            [
                (i, [10.0 * (i % 3) + d + 0.07 * i * d for d in range(4)])
                for i in range(30)
            ],
            "vec_id long, embedding array<double>",
        )
        emb.write.parquet(str(tmp_path / "emb"))
        idx = str(tmp_path / "idx")
        assert main(["ivf", "--path", idx, "--build", str(tmp_path / "emb"),
                     "--k", "3"]) == 0
        spark.createDataFrame(
            [(100, [2.0 * (10.0 * 2 + d) for d in range(4)])],
            "vec_id long, embedding array<double>",
        ).write.parquet(str(tmp_path / "batch"))
        assert main(["ivf", "--path", idx, "--append", str(tmp_path / "batch")]) == 0
        spark.createDataFrame(
            [(2, [10.0 * 2 + d for d in range(4)])],
            "vec_id long, embedding array<double>",
        ).write.parquet(str(tmp_path / "q"))
        assert main(["ivf", "--path", idx, "--query", str(tmp_path / "q"),
                     "--nprobe", "1", "--topk", "1"]) == 0
        assert main(["ivf", "--path", idx, "--query", str(tmp_path / "q"),
                     "--nprobe", "1", "--fraction"]) == 0
        lines = capsys.readouterr().out.strip().splitlines()
        top = json.loads(lines[-2])
        frac = json.loads(lines[-1])
        assert top["vec_id"] == 100  # the appended near-twin wins
        assert 0 < frac["files_read"] < frac["files_total"]


class TestTfrecordSink:
    def test_crc32c_check_vector(self):
        from imitation_learning_data_pipeline_spark.pipeline.tfrecord import crc32c

        assert crc32c(b"123456789") == 0xE3069283
        assert crc32c(b"") == 0

    def test_example_roundtrip_all_types(self):
        from imitation_learning_data_pipeline_spark.pipeline.tfrecord import (
            decode_example,
            encode_example,
        )

        feats = {
            "doc_id": 42,
            "neg": -7,
            "text": "héllo world",
            "blob": b"\x00\x01\xff",
            "score": 0.5,
            "vec": [1.5, -2.25, 0.0],
            "ids": [1, 2, 3],
            "skipme": None,
        }
        got = decode_example(encode_example(feats))
        assert got["doc_id"] == [42]
        assert got["neg"] == [-7]
        assert got["text"] == ["héllo world".encode("utf-8")]
        assert got["blob"] == [b"\x00\x01\xff"]
        assert got["score"] == [0.5]
        assert got["vec"] == [1.5, -2.25, 0.0]
        assert got["ids"] == [1, 2, 3]
        assert "skipme" not in got

    def test_export_deterministic_and_readable(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline.tfrecord import (
            decode_example,
            export_tfrecord,
            read_records,
        )

        df = spark.createDataFrame(
            [(i, f"doc number {i}", float(i) / 4) for i in range(40)],
            "doc_id long, text string, score double",
        )
        a, b = str(tmp_path / "a"), str(tmp_path / "b")
        rep = export_tfrecord(df, a, n_shards=4)
        export_tfrecord(df, b, n_shards=4)
        assert sum(r["n_records"] for r in rep) == 40
        import os

        files_a = sorted(os.listdir(a))
        assert files_a == sorted(os.listdir(b))
        seen = set()
        for f in files_a:
            ra = open(os.path.join(a, f), "rb").read()
            rb = open(os.path.join(b, f), "rb").read()
            assert ra == rb  # byte-identical re-export
            for rec in read_records(os.path.join(a, f)):
                ex = decode_example(rec)
                (i,) = ex["doc_id"]
                seen.add(i)
                assert ex["text"] == [f"doc number {i}".encode()]
        assert seen == set(range(40))

    def test_reader_detects_corruption(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline.tfrecord import (
            export_tfrecord,
            read_records,
        )

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        out = str(tmp_path / "t")
        export_tfrecord(df, out, n_shards=1)
        import os

        f = os.path.join(out, sorted(os.listdir(out))[0])
        blob = bytearray(open(f, "rb").read())
        blob[-5] ^= 0xFF  # flip a data byte
        open(f, "wb").write(bytes(blob))
        with pytest.raises(ValueError, match="crc"):
            list(read_records(f))

    def test_cli_format_flag(self, spark, tmp_path, capsys):
        import json

        from imitation_learning_data_pipeline_spark.cli import main

        spark.createDataFrame(
            [(i, f"t{i}") for i in range(10)], "doc_id long, text string"
        ).write.parquet(str(tmp_path / "in"))
        rc = main(["shards", "--input", str(tmp_path / "in"),
                   "--out", str(tmp_path / "tfr"), "--n-shards", "2",
                   "--format", "tfrecord"])
        assert rc == 0
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rep["format"] == "tfrecord" and rep["rows"] == 10


class TestHllGroupedAndStreaming:
    def test_grouped_registers_match_per_group_singles(self, spark):
        from imitation_learning_data_pipeline_spark.plans.hll import (
            hll_registers,
            hll_registers_by_group,
        )

        rows = [("en", f"e{i}") for i in range(200)] + [
            ("de", f"d{i}") for i in range(80)
        ]
        df = spark.createDataFrame(rows, "lang string, item string")
        grouped = {
            (r.group, r.bucket): r.rho_max
            for r in hll_registers_by_group(df, "lang").collect()
        }
        for lang in ("en", "de"):
            single = {
                (lang, r.bucket): r.rho_max
                for r in hll_registers(
                    df.filter(F.col("lang") == lang).select("item")
                ).collect()
            }
            assert {k: v for k, v in grouped.items() if k[0] == lang} == single

    def test_grouped_estimate_within_bound(self, spark):
        from imitation_learning_data_pipeline_spark.plans.hll import (
            hll_estimate_by_group,
            hll_registers_by_group,
        )

        rows = [("a", f"x{i}") for i in range(3000)] + [
            ("b", f"y{i}") for i in range(100)
        ]
        df = spark.createDataFrame(rows, "g string, item string")
        est = {
            r.group: r.n_est
            for r in hll_estimate_by_group(
                hll_registers_by_group(df, "g")
            ).collect()
        }
        assert abs(est["a"] - 3000) / 3000 < 0.20
        assert abs(est["b"] - 100) / 100 < 0.20

    def test_streaming_fold_equals_whole(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.plans.hll import hll_registers
        from imitation_learning_data_pipeline_spark.streaming.incremental import (
            read_hll_register_store,
            run_incremental_hll_stream,
        )

        docs = spark.createDataFrame(
            [(i, f"tok{i % 333}") for i in range(900)], "doc_id long, word string"
        )
        src = str(tmp_path / "src")
        docs.repartition(3).write.parquet(src)
        stream = spark.readStream.schema("doc_id long, word string").option(
            "maxFilesPerTrigger", 1
        ).parquet(src)
        store, ck = str(tmp_path / "hll"), str(tmp_path / "ck")
        run_incremental_hll_stream(stream, store, ck, col="word")
        folded = set(
            map(tuple, read_hll_register_store(spark, store).collect())
        )
        whole = set(
            map(
                tuple,
                hll_registers(
                    docs.select(F.col("word").cast("string").alias("item"))
                ).collect(),
            )
        )
        assert folded == whole


class TestCardPrivacySection:
    def test_card_includes_privacy_summary(self, spark, tmp_path, capsys):
        import json

        from imitation_learning_data_pipeline_spark.cli import main

        rows = [(i, "a" if i < 9 else "z", 100 + i % 3) for i in range(10)]
        spark.createDataFrame(rows, "rid long, city string, salary long").write.parquet(
            str(tmp_path / "t")
        )
        rc = main(["card", "--path", str(tmp_path / "t"),
                   "--privacy-quasi", "city", "--privacy-sensitive", "salary"])
        assert rc == 0
        card = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert card["privacy"] == {
            "quasi_identifiers": ["city"],
            "sensitive": "salary",
            "k": 3,
            "l": 2,
            "classes": 2,
            "k_violations": 1,
            "l_violations": 1,  # the singleton has 1 distinct salary
            "rows_at_risk": 1,
        }

    def test_quasi_without_sensitive_raises(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline.card import data_card

        spark.range(3).write.parquet(str(tmp_path / "t2"))
        with pytest.raises(ValueError, match="privacy_sensitive"):
            data_card(spark, str(tmp_path / "t2"), privacy_quasi=["id"])


class TestZipfTtr:
    def _run(self, spark, sf_dir="/root/testdata/sf0.001"):
        from imitation_learning_data_pipeline_spark.plans.text import text_zipf_ttr

        return text_zipf_ttr(spark, sf_dir).collect()[0]

    def test_planted_zipf_slope_near_minus_one(self, spark, tmp_path, monkeypatch):
        """A corpus whose word frequencies follow rank^-1 exactly must
        fit slope ≈ -1 with r² ≈ 1."""
        import math

        from imitation_learning_data_pipeline_spark.plans import text as text_mod

        rows, did = [], 0
        # word w_r appears floor(1000 / r) times, r = 1..50
        for r in range(1, 51):
            for _ in range(1000 // r):
                rows.append((did, f"w{r:03d}"))
                did += 1
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        monkeypatch.setattr(text_mod, "_docs", lambda s, d: docs)
        got = self._run(spark)
        assert abs(got.zipf_slope + 1.0) < 0.05
        assert got.zipf_r2 > 0.99
        assert got.n_types == 50
        assert abs(got.ttr - 50 / got.n_tokens) < 1e-6

    def test_uniform_corpus_defines_r2_zero(self, spark, monkeypatch):
        """Every word equally frequent: zero y-variance, r² defined 0."""
        from imitation_learning_data_pipeline_spark.plans import text as text_mod

        rows = [(i, f"u{i % 20}") for i in range(200)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        monkeypatch.setattr(text_mod, "_docs", lambda s, d: docs)
        got = self._run(spark)
        assert got.zipf_r2 == 0.0 and got.zipf_slope == 0.0
        assert got.n_types == 20 and got.n_tokens == 200


class TestReviewFixes:
    """Regression pins for the round-11 self-review findings."""

    def test_hll_ignores_null_items(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.plans.hll import (
            fold_into_hll_store,
            hll_estimate,
            hll_registers,
            hll_registers_by_group,
            read_hll_store,
        )

        withnull = spark.createDataFrame(
            [("a",), ("b",), (None,)], "item string"
        )
        clean = withnull.filter("item IS NOT NULL")
        assert set(map(tuple, hll_registers(withnull).collect())) == set(
            map(tuple, hll_registers(clean).collect())
        )
        # the store path must stay estimable after a null-bearing fold
        path = str(tmp_path / "h")
        fold_into_hll_store(spark, hll_registers(withnull), path)
        assert hll_estimate(read_hll_store(spark, path)) > 0
        g = spark.createDataFrame(
            [("en", "a"), ("en", None)], "lang string, item string"
        )
        assert hll_registers_by_group(g, "lang").count() == 1

    def test_suppression_covers_null_quasi_classes(self, spark):
        """A violating class whose quasi-identifier value IS NULL must
        still be suppressed — the other quasi columns re-identify."""
        from imitation_learning_data_pipeline_spark.plans.privacy import (
            suppress_small_classes,
        )

        rows = [
            (1, None, 7, 10),
            (2, None, 7, 20),  # class (NULL, 7): size 2 < k=3
            (3, "a", 1, 30),
            (4, "a", 1, 40),
            (5, "a", 1, 50),
        ]
        df = spark.createDataFrame(rows, "rid long, city string, age_band long, salary long")
        out = {r.rid: r for r in suppress_small_classes(df, ["city", "age_band"]).collect()}
        assert out[1].age_band is None and out[2].age_band is None
        assert out[3].city == "a" and out[3].age_band == 1

    def test_ivf_external_query_keeps_id_collisions(self, spark, tmp_path):
        """An external query whose qid collides with a stored vec_id
        must still retrieve that vector (default exclude_self=False)."""
        import math

        from imitation_learning_data_pipeline_spark.plans.mllib_ops import (
            search_ivf_index,
            write_ivf_index,
        )

        emb = spark.createDataFrame(
            [(i, [10.0 * (i % 3) + d + 0.07 * i * d for d in range(4)])
             for i in range(30)],
            "vec_id long, embedding array<double>",
        )
        path = str(tmp_path / "ivf")
        write_ivf_index(emb, path, k=3)
        v7 = emb.filter("vec_id = 7").collect()[0].embedding
        # external query happens to carry qid=7; its true NN is stored 7
        queries = spark.createDataFrame([(7, v7)], "qid long, v array<double>")
        top = search_ivf_index(spark, path, queries, nprobe=3, k_neighbors=1).collect()
        assert top[0].vec_id == 7 and top[0].cos_sim == 1.0

    def test_tfrecord_truncated_crc_raises_valueerror(self, spark, tmp_path):
        import os

        from imitation_learning_data_pipeline_spark.pipeline.tfrecord import (
            export_tfrecord,
            read_records,
        )

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        out = str(tmp_path / "t")
        export_tfrecord(df, out, n_shards=1)
        f = os.path.join(out, sorted(os.listdir(out))[0])
        blob = open(f, "rb").read()
        open(f, "wb").write(blob[:10])  # cut inside the length crc
        with pytest.raises(ValueError, match="truncated"):
            list(read_records(f))

    def test_tfrecord_null_id_fails_loudly(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline.tfrecord import (
            export_tfrecord,
        )

        df = spark.createDataFrame(
            [(1, "x"), (None, "y")], "doc_id long, text string"
        )
        with pytest.raises(Exception, match="non-null"):
            export_tfrecord(df, str(tmp_path / "t"), n_shards=1)


class TestSplitLeakageAudit:
    def _corpus(self, spark):
        import random

        rng = random.Random(7)
        rows = []
        vocab = [f"tok{i}" for i in range(400)]
        for i in range(40):
            words = [vocab[rng.randrange(400)] for _ in range(25)]
            rows.append((i, " ".join(words)))
            if i % 4 == 0:  # plant a near-dup twin
                rows.append((1000 + i, " ".join(words) + " tail bit"))
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_leakage_safe_audits_to_zero(self, spark):
        from imitation_learning_data_pipeline_spark.plans.sampling import (
            leakage_safe_splits,
            split_leakage_audit,
        )

        docs = self._corpus(spark)
        splits = leakage_safe_splits(docs).select("doc_id", "split")
        audit = {
            (r.split_a, r.split_b): r.n_cross_pairs
            for r in split_leakage_audit(docs, splits).collect()
        }
        cross = {k: v for k, v in audit.items() if k != ("__total__", "__total__")}
        assert cross == {}  # the guarantee, measured
        assert audit[("__total__", "__total__")] > 0  # pairs exist

    def test_naive_split_leaks(self, spark):
        """A per-doc hash split ignores near-dup structure: the planted
        twins (doc_id vs doc_id+1000 hash independently) land across
        boundaries with probability 1-(0.8^2+0.1^2+0.1^2)=0.34 per
        pair — with 10 planted pairs at least one crosses under the
        fixed seed (deterministic)."""
        from imitation_learning_data_pipeline_spark.functions.hashing import (
            split_assign,
        )
        from imitation_learning_data_pipeline_spark.plans.sampling import (
            split_leakage_audit,
        )

        docs = self._corpus(spark)
        naive = docs.select(
            "doc_id", split_assign(F.col("doc_id"), seed="naive1").alias("split")
        )
        audit = {
            (r.split_a, r.split_b): r.n_cross_pairs
            for r in split_leakage_audit(docs, naive).collect()
        }
        cross_total = sum(
            v for k, v in audit.items() if k != ("__total__", "__total__")
        )
        assert cross_total > 0


class TestDriftBaselineStore:
    def test_baseline_psi_equals_direct(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.plans.monitor import (
            psi_against_baseline,
            read_drift_baseline,
            score_drift_psi,
            write_drift_baseline,
        )

        ref = spark.createDataFrame(
            [(float((i % 100) / 100),) for i in range(500)], "score double"
        )
        cur = spark.createDataFrame(
            [(0.9 + (i % 10) / 100.0,) for i in range(300)], "score double"
        )
        direct = [tuple(r) for r in score_drift_psi(ref, cur).collect()]
        path = str(tmp_path / "base")
        write_drift_baseline(ref, path)
        stored = [
            tuple(r)
            for r in psi_against_baseline(
                cur, read_drift_baseline(spark, path)
            ).collect()
        ]
        assert stored == direct

    def test_baseline_counts_are_additive(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.plans.monitor import (
            drift_bucket_counts,
        )

        a = spark.createDataFrame([(0.15,), (0.95,)], "score double")
        b = spark.createDataFrame([(0.15,), (0.35,)], "score double")
        both = a.unionByName(b)
        merged = {
            r.bucket: r.n
            for r in drift_bucket_counts(a)
            .unionByName(drift_bucket_counts(b))
            .groupBy("bucket")
            .agg(F.sum("n").alias("n"))
            .collect()
        }
        whole = {r.bucket: r.n for r in drift_bucket_counts(both).collect()}
        assert merged == whole


class TestPsiBaselineCli:
    def test_build_then_audit(self, spark, tmp_path, capsys):
        import json

        from imitation_learning_data_pipeline_spark.cli import main

        spark.createDataFrame(
            [(float((i % 100) / 100),) for i in range(500)], "score double"
        ).write.parquet(str(tmp_path / "ref"))
        spark.createDataFrame(
            [(0.9 + (i % 10) / 100.0,) for i in range(300)], "score double"
        ).write.parquet(str(tmp_path / "cur"))
        base = str(tmp_path / "base")
        assert main(["psi", "--input", str(tmp_path / "ref"),
                     "--baseline-out", base]) == 0
        assert main(["psi", "--input", str(tmp_path / "cur"),
                     "--baseline", base]) == 0
        lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
        assert lines[-1]["verdict"] == "ALERT" and lines[-1]["psi"] > 0.25

    def test_missing_mode_errors(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.cli import main

        spark.createDataFrame([(0.5,)], "score double").write.parquet(
            str(tmp_path / "x")
        )
        with pytest.raises(SystemExit, match="--against"):
            main(["psi", "--input", str(tmp_path / "x")])


class TestDeltaLogReader:
    """pipeline/delta_log.py: pure-FS transaction-log replay — these
    run WITHOUT delta-spark (the point: the bridge must not be inert
    when the package is absent)."""

    def _write_commit(self, log_dir, version, actions):
        import json as _json
        import os

        os.makedirs(log_dir, exist_ok=True)
        with open(os.path.join(log_dir, f"{version:020d}.json"), "w") as fh:
            for a in actions:
                fh.write(_json.dumps(a) + "\n")

    def test_json_only_replay(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline.delta_log import (
            has_delta_log,
            read_delta_snapshot,
        )

        base = str(tmp_path / "t")
        log = f"{base}/_delta_log"
        assert not has_delta_log(spark, base)
        self._write_commit(log, 0, [
            {"metaData": {"id": "x", "configuration": {"k": "v"}}},
            {"add": {"path": "part-a.parquet", "size": 100}},
            {"add": {"path": "sub/part%20b.parquet", "size": 200}},
        ])
        self._write_commit(log, 1, [
            {"remove": {"path": "part-a.parquet"}},
            {"add": {"path": "part-c.parquet", "size": 300,
                     "deletionVector": {"storageType": "u", "sizeInBytes": 40}}},
        ])
        assert has_delta_log(spark, base)
        snap = read_delta_snapshot(spark, base)
        assert snap["version"] == 1
        assert snap["configuration"] == {"k": "v"}
        assert snap["files"] == {
            "sub/part b.parquet": {"size": 200, "dv": False},  # URI-decoded
            "part-c.parquet": {"size": 300, "dv": True},
        }

    def test_checkpoint_plus_tail_replay(self, spark, tmp_path):
        import json as _json
        import os

        from imitation_learning_data_pipeline_spark.pipeline.delta_log import (
            read_delta_snapshot,
        )

        base = str(tmp_path / "t")
        log = f"{base}/_delta_log"
        os.makedirs(log, exist_ok=True)
        schema = (
            "add struct<path:string,size:bigint,"
            "deletionVector:struct<storageType:string>>, "
            "remove struct<path:string>, "
            "metaData struct<configuration:map<string,string>>"
        )
        rows = [
            (("cp-live.parquet", 11, None), None, None),
            (("cp-dv.parquet", 22, ("u",)), None, None),
            (None, ("gone.parquet",), None),
            (None, None, ({"delta.enableDeletionVectors": "false"},)),
        ]
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{log}/{5:020d}.checkpoint.parquet"
        )
        with open(f"{log}/_last_checkpoint", "w") as fh:
            fh.write(_json.dumps({"version": 5, "parts": 1}))
        # a pre-checkpoint commit that must be IGNORED
        self._write_commit(log, 4, [{"add": {"path": "stale.parquet", "size": 1}}])
        # the post-checkpoint tail
        self._write_commit(log, 6, [
            {"remove": {"path": "cp-dv.parquet"}},
            {"add": {"path": "new.parquet", "size": 33}},
        ])
        snap = read_delta_snapshot(spark, base)
        assert snap["version"] == 6
        assert snap["files"] == {
            "cp-live.parquet": {"size": 11, "dv": False},
            "new.parquet": {"size": 33, "dv": False},
        }

    def test_matview_excludes_tombstoned_files_without_delta(self, spark, tmp_path):
        """The review scenario: a Delta-shaped base on a deployment
        WITHOUT delta-spark must fold only the log's live set — the
        silent raw-walk previously double-counted tombstones."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from imitation_learning_data_pipeline_spark.pipeline.matview import (
            create_matview,
            read_matview,
        )

        base = str(tmp_path / "t")
        import os

        os.makedirs(base, exist_ok=True)
        live = pa.table({"grp": [1, 1, 2], "v": [1.0, 2.0, 3.0]})
        tomb = pa.table({"grp": [1], "v": [100.0]})
        pq.write_table(live, f"{base}/part-live.parquet")
        pq.write_table(tomb, f"{base}/part-tomb.parquet")
        self._write_commit(f"{base}/_delta_log", 0, [
            {"metaData": {"configuration": {}}},
            {"add": {"path": "part-live.parquet", "size":
                     os.path.getsize(f"{base}/part-live.parquet")}},
            {"add": {"path": "part-tomb.parquet", "size":
                     os.path.getsize(f"{base}/part-tomb.parquet")}},
        ])
        self._write_commit(f"{base}/_delta_log", 1, [
            {"remove": {"path": "part-tomb.parquet"}},
        ])
        mv = str(tmp_path / "mv")
        create_matview(spark, base, mv, ["grp"], ["v"])
        got = {r["grp"]: r["v_sum"] for r in read_matview(spark, mv).collect()}
        assert got == {1: 3.0, 2: 3.0}  # the tombstoned 100.0 never folds

    def test_guard_refuses_live_dvs_even_with_property_off(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline.matview import (
            BaseMutatedError,
            _guard_no_base_dvs,
        )

        base = str(tmp_path / "t")
        self._write_commit(f"{base}/_delta_log", 0, [
            {"metaData": {"configuration": {"delta.enableDeletionVectors": "false"}}},
            {"add": {"path": "f.parquet", "size": 10,
                     "deletionVector": {"storageType": "u"}}},
        ])
        with pytest.raises(BaseMutatedError, match="LIVE deletion vectors"):
            _guard_no_base_dvs(spark, base, "refresh")

    def test_guard_refuses_property_and_column_mapping(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline.matview import (
            BaseMutatedError,
            _guard_no_base_dvs,
        )

        base = str(tmp_path / "t")
        self._write_commit(f"{base}/_delta_log", 0, [
            {"metaData": {"configuration": {"delta.enableDeletionVectors": "true"}}},
            {"add": {"path": "f.parquet", "size": 10}},
        ])
        with pytest.raises(BaseMutatedError, match="deletion vectors enabled"):
            _guard_no_base_dvs(spark, base, "refresh")
        base2 = str(tmp_path / "t2")
        self._write_commit(f"{base2}/_delta_log", 0, [
            {"metaData": {"configuration": {"delta.columnMapping.mode": "name"}}},
            {"add": {"path": "f.parquet", "size": 10}},
        ])
        with pytest.raises(BaseMutatedError, match="column mapping"):
            _guard_no_base_dvs(spark, base2, "refresh")


class TestReviewFixesRound2:
    """Regression pins for the second self-review pass."""

    def _commit(self, log_dir, version, actions):
        import json as _json
        import os

        os.makedirs(log_dir, exist_ok=True)
        with open(os.path.join(log_dir, f"{version:020d}.json"), "w") as fh:
            for a in actions:
                fh.write(_json.dumps(a) + "\n")

    def test_delta_log_refuses_commit_gaps(self, spark, tmp_path):
        """Expired log prefix without a checkpoint must raise, not
        return a silently incomplete snapshot."""
        from imitation_learning_data_pipeline_spark.pipeline.delta_log import (
            read_delta_snapshot,
        )

        base = str(tmp_path / "t")
        # versions 3 and 4 survive; 0-2 expired — chain must start at 0
        self._commit(f"{base}/_delta_log", 3, [{"add": {"path": "a", "size": 1}}])
        self._commit(f"{base}/_delta_log", 4, [{"add": {"path": "b", "size": 1}}])
        with pytest.raises(ValueError, match="not contiguous"):
            read_delta_snapshot(spark, base)

    def test_delta_log_checkpoint_fallback_without_hint(self, spark, tmp_path):
        """A checkpoint visible in the listing is used even when the
        best-effort _last_checkpoint hint file is absent."""
        import json as _json
        import os

        from imitation_learning_data_pipeline_spark.pipeline.delta_log import (
            read_delta_snapshot,
        )

        base = str(tmp_path / "t")
        log = f"{base}/_delta_log"
        os.makedirs(log, exist_ok=True)
        schema = (
            "add struct<path:string,size:bigint>, remove struct<path:string>, "
            "metaData struct<configuration:map<string,string>>"
        )
        spark.createDataFrame(
            [(("cp.parquet", 5), None, None)], schema
        ).coalesce(1).write.parquet(f"{log}/{2:020d}.checkpoint.parquet")
        # commits 0-1 expired; the fallback checkpoint at v2 covers them
        self._commit(log, 3, [{"add": {"path": "tail.parquet", "size": 7}}])
        snap = read_delta_snapshot(spark, base)
        assert snap["files"] == {
            "cp.parquet": {"size": 5, "dv": False},
            "tail.parquet": {"size": 7, "dv": False},
        }

    def test_matview_refuses_absolute_add_paths(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline.matview import (
            _list_base_files,
        )

        base = str(tmp_path / "t")
        self._commit(f"{base}/_delta_log", 0, [
            {"add": {"path": "s3://other-bucket/part.parquet", "size": 9}},
        ])
        with pytest.raises(ValueError, match="ABSOLUTE"):
            _list_base_files(spark, base)

    def test_fold_refuses_foreign_store(self, spark, tmp_path):
        """A schema-mismatched parquet at the store path must raise,
        never be read as 'missing' and overwritten."""
        from imitation_learning_data_pipeline_spark.plans.hll import (
            fold_into_hll_store,
            hll_registers,
        )

        path = str(tmp_path / "x")
        spark.range(5).write.parquet(path)  # not a register store
        regs = hll_registers(
            spark.createDataFrame([("a",)], "item string")
        )
        with pytest.raises(ValueError, match="not an HLL register store"):
            fold_into_hll_store(spark, regs, path)
        # the foreign data survives untouched
        assert spark.read.parquet(path).count() == 5

    def test_leakage_audit_surfaces_unassigned_pairs(self, spark):
        from imitation_learning_data_pipeline_spark.plans.sampling import (
            split_leakage_audit,
        )

        base = " ".join(f"w{i} x{i} y{i}" for i in range(12))
        docs = spark.createDataFrame(
            [(1, base), (2, base + " tail")], "doc_id long, text string"
        )
        # doc 2 has NO split assignment — the near-dup pair must
        # surface as __unassigned__, not silently vanish
        splits = spark.createDataFrame([(1, "train")], "doc_id long, split string")
        audit = {
            (r.split_a, r.split_b): r.n_cross_pairs
            for r in split_leakage_audit(docs, splits).collect()
        }
        cross = {k: v for k, v in audit.items() if k != ("__total__", "__total__")}
        assert sum(cross.values()) >= 1
        assert any("__unassigned__" in k for k in cross)

    def test_psi_flag_conflicts_rejected(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.cli import main

        spark.createDataFrame([(0.5,)], "score double").write.parquet(
            str(tmp_path / "x")
        )
        with pytest.raises(SystemExit, match="NO comparison"):
            main(["psi", "--input", str(tmp_path / "x"),
                  "--baseline-out", str(tmp_path / "b"),
                  "--against", str(tmp_path / "x")])
        with pytest.raises(SystemExit, match="buckets"):
            main(["psi", "--input", str(tmp_path / "x"),
                  "--baseline", str(tmp_path / "b"), "--buckets", "20"])


class TestReleaseGate:
    BASE = " ".join(f"w{i} x{i} y{i}" for i in range(12))

    def test_all_checks_pass_and_fail_paths(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline.release import (
            release_gate,
        )
        from imitation_learning_data_pipeline_spark.plans.monitor import (
            write_drift_baseline,
        )

        docs = spark.createDataFrame(
            [(1, "a clean document about spark partition pruning", 0.5, "x", 10),
             (2, "another unrelated piece of text entirely here", 0.52, "x", 20),
             (3, "third document with its own words and nothing shared", 0.48, "x", 30)],
            "doc_id long, text string, score double, city string, salary long",
        )
        splits = spark.createDataFrame(
            [(1, "train"), (2, "test"), (3, "train")], "doc_id long, split string"
        )
        probe = spark.createDataFrame(
            [(900, "completely disjoint benchmark sentence tokens qqq zzz")],
            "doc_id long, text string",
        )
        base = str(tmp_path / "psi")
        write_drift_baseline(docs.select("score"), base)
        rep = release_gate(
            spark, docs, splits=splits, probe=probe,
            quasi_cols=["city"], sensitive_col="salary",
            psi_baseline_path=base,
        )
        assert rep["pass"] and set(rep["checks"]) == {
            "leakage", "decontam", "privacy", "psi"
        }
        # now plant a contaminated near-dup: fails decontam AND leakage
        bad = docs.unionByName(spark.createDataFrame(
            [(4, self.BASE, 0.5, "y", 40), (5, self.BASE + " tail", 0.5, "y", 50)],
            "doc_id long, text string, score double, city string, salary long",
        ))
        bad_splits = splits.unionByName(spark.createDataFrame(
            [(4, "train"), (5, "test")], "doc_id long, split string"
        ))
        bad_probe = probe.unionByName(spark.createDataFrame(
            [(901, self.BASE)], "doc_id long, text string"
        ))
        rep2 = release_gate(
            spark, bad, splits=bad_splits, probe=bad_probe,
            quasi_cols=["city"], sensitive_col="salary",
        )
        assert not rep2["pass"]
        assert not rep2["checks"]["leakage"]["pass"]
        assert not rep2["checks"]["decontam"]["pass"]
        assert not rep2["checks"]["privacy"]["pass"]  # 'y' class of 2 < k=3

    def test_all_skip_gate_refused(self, spark):
        from imitation_learning_data_pipeline_spark.pipeline.release import (
            release_gate,
        )

        docs = spark.createDataFrame([(1, "t")], "doc_id long, text string")
        with pytest.raises(ValueError, match="no check configured"):
            release_gate(spark, docs)

    def test_cli_exit_codes(self, spark, tmp_path, capsys):
        import json

        from imitation_learning_data_pipeline_spark.cli import main

        spark.createDataFrame(
            [(1, self.BASE), (2, "something wholly unrelated to anything")],
            "doc_id long, text string",
        ).write.parquet(str(tmp_path / "docs"))
        spark.createDataFrame(
            [(900, "no shared phrases with the corpus at all")],
            "doc_id long, text string",
        ).write.parquet(str(tmp_path / "probe_ok"))
        spark.createDataFrame(
            [(901, self.BASE)], "doc_id long, text string"
        ).write.parquet(str(tmp_path / "probe_bad"))
        assert main(["release-gate", "--input", str(tmp_path / "docs"),
                     "--probe", str(tmp_path / "probe_ok")]) == 0
        assert main(["release-gate", "--input", str(tmp_path / "docs"),
                     "--probe", str(tmp_path / "probe_bad")]) == 1
        last = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert last["checks"]["decontam"]["contaminated_docs"] == 1
