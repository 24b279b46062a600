"""Round-11 hardening: DSIR re-ingest fold, conditional target
broadcast, paper-exact paired weight estimation, foreign-store scoring.

Verdict/ADVICE items closed here:
- VERDICT r10 #2: read_dsir_selection must not seat one doc_id in two
  of the k slots when a doc re-ingests with MODIFIED text.
- VERDICT r10 #3: dsir_weights must not force-broadcast an arbitrarily
  large target-id frame.
- ADVICE r10: dsir_scores left-joins foreign weight stores (0-fill);
  `cli dsir --target` estimates q from the raw featurization alone.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SPORTY = "match goal team score win league player season coach referee"
JUNKY = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"


class TestDsirReingestFold:
    def test_modified_reingest_never_double_seats(self, spark, tmp_path):
        """A doc_id re-ingested with CHANGED text produces two
        non-identical (score, sample_key) rows in the store; the fold
        must still yield k DISTINCT doc_ids, keeping the max-sample_key
        row for the conflicted doc."""
        from imitation_learning_data_pipeline_spark.plans.dsir import (
            doc_features,
            dsir_select_batch,
            dsir_weights,
            read_dsir_selection,
            read_dsir_weights,
            write_dsir_weights,
        )

        ref = spark.createDataFrame(
            [(900, SPORTY), (950, JUNKY)], "doc_id long, text string"
        )
        wpath = str(tmp_path / "w")
        write_dsir_weights(
            dsir_weights(doc_features(ref), ref.filter("doc_id = 900").select("doc_id")),
            wpath,
        )
        weights = read_dsir_weights(spark, wpath)
        k = 4
        batch1 = spark.createDataFrame(
            [(i, SPORTY if i % 2 else JUNKY) for i in range(8)],
            "doc_id long, text string",
        )
        # doc 3 re-ingests with modified (now junky) text: same id,
        # different score, different sample_key.
        batch2 = spark.createDataFrame(
            [(3, JUNKY + " extra"), (20, SPORTY), (21, JUNKY)],
            "doc_id long, text string",
        )
        out = str(tmp_path / "sel")
        for i, b in enumerate((batch1, batch2)):
            sel = dsir_select_batch(b, weights, k=k).withColumn(
                "k_batch", F.lit(k)
            ).withColumn("ingest_batch", F.lit(i))
            sel.write.mode("append").partitionBy("ingest_batch").parquet(out)

        # Sanity: the raw store really does carry doc 3 twice with
        # differing sample keys (the r10 hole's precondition).
        raw = spark.read.parquet(out).filter("doc_id = 3")
        keys = [r.sample_key for r in raw.collect()]
        assert len(keys) == 2 and keys[0] != keys[1]

        folded = read_dsir_selection(spark, out, k=k).collect()
        ids = [r.doc_id for r in folded]
        assert len(ids) == len(set(ids)) == k
        # The conflicted doc resolves to its max sample_key.
        if 3 in ids:
            got = next(r for r in folded if r.doc_id == 3)
            assert got.sample_key == pytest.approx(max(keys))

    def test_unchanged_reingest_still_exact(self, spark, tmp_path):
        """Bit-identical re-ingest (the r10 case) keeps the documented
        fold-equals-single-batch exactness."""
        from imitation_learning_data_pipeline_spark.plans.dsir import (
            doc_features,
            dsir_select_batch,
            dsir_weights,
            read_dsir_selection,
            read_dsir_weights,
            write_dsir_weights,
        )

        ref = spark.createDataFrame(
            [(900, SPORTY), (950, JUNKY)], "doc_id long, text string"
        )
        wpath = str(tmp_path / "w")
        write_dsir_weights(
            dsir_weights(doc_features(ref), ref.filter("doc_id = 900").select("doc_id")),
            wpath,
        )
        weights = read_dsir_weights(spark, wpath)
        docs = spark.createDataFrame(
            [(i, SPORTY if i % 2 else JUNKY) for i in range(10)],
            "doc_id long, text string",
        )
        out = str(tmp_path / "sel")
        k = 5
        for i in range(2):  # same docs twice = re-dropped input file
            dsir_select_batch(docs, weights, k=k).withColumn(
                "k_batch", F.lit(k)
            ).withColumn("ingest_batch", F.lit(i)).write.mode("append").partitionBy(
                "ingest_batch"
            ).parquet(out)
        folded = read_dsir_selection(spark, out, k=k).collect()
        single = dsir_select_batch(docs, weights, k=k).collect()
        assert [tuple(r) for r in folded] == [tuple(r) for r in single]


class TestDsirWeightStoreCommit:
    def test_failed_rewrite_keeps_the_previous_table(self, spark, tmp_path):
        """A weight-table rebuild that fails in its write stage leaves
        the previous table readable (it is committed whole)."""
        from imitation_learning_data_pipeline_spark.plans.dsir import (
            read_dsir_weights,
            write_dsir_weights,
        )

        path = str(tmp_path / "w")
        write_dsir_weights(spark.range(10).selectExpr("id AS bkt", "id * 2 AS w_int"), path)

        @F.udf("long")
        def boom(v):
            if v == 7:
                raise ValueError("injected write failure")
            return v * 3

        # no shuffle under coalesce(1): the UDF raises in the write stage
        bad = spark.range(20).select(F.col("id").alias("bkt"), boom("id").alias("w_int"))
        with pytest.raises(Exception, match="injected write failure"):
            write_dsir_weights(bad, path)
        rows = sorted((r.bkt, r.w_int) for r in read_dsir_weights(spark, path).collect())
        assert rows == [(i, 2 * i) for i in range(10)]


class TestDsirBroadcastGate:
    def test_parse_bytes(self):
        from imitation_learning_data_pipeline_spark.plans.dsir import _parse_bytes

        assert _parse_bytes("10MB") == 10 << 20
        assert _parse_bytes("10485760b") == 10 << 20
        assert _parse_bytes("512kb") == 512 << 10
        assert _parse_bytes("-1") == -1
        assert _parse_bytes("1g") == 1 << 30

    def test_large_target_not_force_broadcast(self, spark):
        """With autoBroadcastJoinThreshold=-1 a forced hint is the ONLY
        way a broadcast join can appear — so the target join must plan
        as a shuffle join when the target's stats are large."""
        from imitation_learning_data_pipeline_spark.plans.dsir import (
            doc_features,
            dsir_weights,
        )

        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            docs = spark.createDataFrame(
                [(i, SPORTY) for i in range(4)], "doc_id long, text string"
            )
            big_target = spark.range(0, 50_000_000).select(
                F.col("id").alias("doc_id")
            )
            plan = dsir_weights(
                doc_features(docs), big_target
            )._jdf.queryExecution().executedPlan().toString()
            # The doc_id join must not be a broadcast; the 1-row totals
            # crossJoin legitimately broadcasts, so look at the join on
            # doc_id specifically via the absence of a forced-hint SMJ
            # downgrade: no BroadcastHashJoin over the range relation.
            assert "BroadcastHashJoin" not in plan.split("== Physical Plan ==")[-1] or (
                "SortMergeJoin" in plan
            )
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    def test_small_target_still_broadcasts(self, spark):
        from imitation_learning_data_pipeline_spark.plans.dsir import (
            doc_features,
            dsir_weights,
        )

        docs = spark.createDataFrame(
            [(i, SPORTY) for i in range(4)], "doc_id long, text string"
        )
        small = docs.limit(2).select("doc_id")
        plan = dsir_weights(
            doc_features(docs), small
        )._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan

    def test_weights_unchanged_by_gate(self, spark):
        """The gate changes the physical join only — weight values are
        identical whichever side of the threshold the target lands."""
        from imitation_learning_data_pipeline_spark.plans.dsir import (
            doc_features,
            dsir_weights,
        )

        docs = spark.createDataFrame(
            [(i, SPORTY if i % 2 else JUNKY) for i in range(10)],
            "doc_id long, text string",
        )
        tgt = docs.filter("doc_id % 2 = 1").select("doc_id")
        feats = doc_features(docs)
        w_b = {r.bkt: r.w_int for r in dsir_weights(feats, tgt).collect()}
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            w_s = {r.bkt: r.w_int for r in dsir_weights(feats, tgt).collect()}
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert w_b == w_s


class TestDsirPairedWeights:
    def test_q_from_raw_alone(self, spark):
        """Paired estimation must equal hand-computed add-one smoothing
        with n_r from the raw featurization ONLY — target occurrences
        must not inflate q."""
        import math

        from imitation_learning_data_pipeline_spark.plans.dsir import (
            N_BUCKETS,
            _SCALE,
            doc_features,
            dsir_weights_paired,
        )

        raw = spark.createDataFrame([(1, "alpha beta")], "doc_id long, text string")
        tgt = spark.createDataFrame(
            [(100, "alpha alpha alpha")], "doc_id long, text string"
        )
        rf, tf = doc_features(raw), doc_features(tgt)
        n_r = {r.bkt: r.cnt for r in rf.groupBy("bkt").agg(F.count("*").alias("cnt")).collect()}
        n_t = {r.bkt: r.cnt for r in tf.groupBy("bkt").agg(F.count("*").alias("cnt")).collect()}
        N_r, N_t = sum(n_r.values()), sum(n_t.values())
        got = {r.bkt: r.w_int for r in dsir_weights_paired(rf, tf).collect()}
        assert set(got) == set(n_r) | set(n_t)
        for bkt, w in got.items():
            p_t = (n_t.get(bkt, 0) + 1) / (N_t + N_BUCKETS)
            p_r = (n_r.get(bkt, 0) + 1) / (N_r + N_BUCKETS)
            assert w == round(math.log(p_t / p_r) * _SCALE)

    def test_target_distinctive_bucket_outranks_union_estimate(self, spark):
        """The r10 ADVICE defect: union-q shrinks log-ratios for
        target-distinctive buckets. Paired weights must strictly exceed
        the union-derived weight for a bucket only the target emits."""
        from imitation_learning_data_pipeline_spark.plans.dsir import (
            doc_features,
            dsir_weights,
            dsir_weights_paired,
        )

        raw = spark.createDataFrame(
            [(i, JUNKY) for i in range(6)], "doc_id long, text string"
        )
        tgt = spark.createDataFrame(
            [(100 + i, SPORTY) for i in range(6)], "doc_id long, text string"
        )
        paired = {
            r.bkt: r.w_int
            for r in dsir_weights_paired(doc_features(raw), doc_features(tgt)).collect()
        }
        union = {
            r.bkt: r.w_int
            for r in dsir_weights(
                doc_features(raw.unionByName(tgt)), tgt.select("doc_id")
            ).collect()
        }
        tgt_buckets = {r.bkt for r in doc_features(tgt).select("bkt").distinct().collect()}
        raw_buckets = {r.bkt for r in doc_features(raw).select("bkt").distinct().collect()}
        distinctive = tgt_buckets - raw_buckets
        assert distinctive
        for b in distinctive:
            assert paired[b] > union[b]

    def test_overlapping_ids_do_not_merge(self, spark):
        """Same doc_id in raw and target: each side counts only its own
        featurization (nothing unions), so weights equal the relabeled
        run where the ids are disjoint."""
        from imitation_learning_data_pipeline_spark.plans.dsir import (
            doc_features,
            dsir_weights_paired,
        )

        raw = spark.createDataFrame(
            [(1, JUNKY), (2, JUNKY)], "doc_id long, text string"
        )
        tgt_overlap = spark.createDataFrame(
            [(1, SPORTY)], "doc_id long, text string"
        )
        tgt_disjoint = spark.createDataFrame(
            [(999, SPORTY)], "doc_id long, text string"
        )
        w1 = {
            r.bkt: r.w_int
            for r in dsir_weights_paired(
                doc_features(raw), doc_features(tgt_overlap)
            ).collect()
        }
        w2 = {
            r.bkt: r.w_int
            for r in dsir_weights_paired(
                doc_features(raw), doc_features(tgt_disjoint)
            ).collect()
        }
        assert w1 == w2

    def test_cli_target_path(self, spark, tmp_path, capsys):
        """`cli dsir --target` end-to-end on a separate target corpus:
        sporty raw docs must dominate the selection."""
        import json

        from imitation_learning_data_pipeline_spark.cli import main

        raw_rows = [(i, SPORTY if i < 10 else JUNKY) for i in range(20)]
        spark.createDataFrame(raw_rows, "doc_id long, text string").write.parquet(
            str(tmp_path / "raw")
        )
        spark.createDataFrame(
            [(1000 + i, SPORTY) for i in range(4)], "doc_id long, text string"
        ).write.parquet(str(tmp_path / "tgt"))
        out = str(tmp_path / "sel")
        rc = main(
            ["dsir", "--input", str(tmp_path / "raw"), "--target",
             str(tmp_path / "tgt"), "--k", "8", "--out", out]
        )
        assert rc == 0
        stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert stats["selected"] == 8
        picked = {r.doc_id for r in spark.read.parquet(out).collect()}
        assert picked <= set(range(20))
        # 10 sporty raw docs, k=8: the target-like docs dominate.
        assert len(picked & set(range(10))) >= 7


class TestDsirScoresForeignStore:
    def test_left_join_zero_fill(self, spark, tmp_path):
        """Scoring a corpus against a FOREIGN weight store (estimated
        elsewhere, missing buckets this corpus produces) must not drop
        the novel-vocabulary features: dsir_scores now matches
        dsir_select_batch's left+0-fill semantics exactly."""
        from imitation_learning_data_pipeline_spark.plans.dsir import (
            doc_features,
            dsir_scores,
            dsir_select_batch,
            dsir_weights,
            read_dsir_weights,
            write_dsir_weights,
        )

        ref = spark.createDataFrame(
            [(900, SPORTY), (950, JUNKY)], "doc_id long, text string"
        )
        path = str(tmp_path / "w")
        write_dsir_weights(
            dsir_weights(doc_features(ref), ref.filter("doc_id = 900").select("doc_id")),
            path,
        )
        stored = read_dsir_weights(spark, path)
        # Novel vocabulary: half the words never appeared in ref.
        docs = spark.createDataFrame(
            [(1, SPORTY + " zebrafish quantum"), (2, "zebrafish quantum flux")],
            "doc_id long, text string",
        )
        scores = {r.doc_id: r.score_int for r in dsir_scores(docs, stored).collect()}
        batch = {
            r.doc_id: round(r.score * 10000)
            for r in dsir_select_batch(docs, stored, k=2).collect()
        }
        # dsir_select_batch reports score = score_int / 1e4.
        for did, s in batch.items():
            assert scores[did] == s
        # Doc 2 is ALL novel vocabulary: every feature 0-fills, score 0
        # (an inner join would have produced no row / dropped features).
        assert scores[2] == 0


class TestBucketRank:
    def test_matches_global_window(self, spark):
        """bucket_ranked == row_number().over(Window.orderBy(...)) on a
        shuffled frame with duplicate scores (unique tiebreaker)."""
        from pyspark.sql.window import Window

        from imitation_learning_data_pipeline_spark.plans.windows import bucket_ranked

        rows = [(i, float((i * 37) % 11)) for i in range(500)]
        df = spark.createDataFrame(rows, "doc_id long, s double").repartition(7)
        ranked, cached = bucket_ranked(df, ["s", "doc_id"], rank_col="r", n_buckets=8)
        try:
            got = {r.doc_id: r.r for r in ranked.collect()}
        finally:
            cached.unpersist()
        want = {
            r.doc_id: r.r
            for r in df.withColumn(
                "r", F.row_number().over(Window.orderBy("s", "doc_id"))
            ).collect()
        }
        assert got == want

    def test_no_single_partition_exchange(self, spark):
        """The ranked plan must not contain Exchange SinglePartition —
        the whole point of the two-pass rank."""
        from imitation_learning_data_pipeline_spark.plans.windows import bucket_ranked

        df = spark.createDataFrame(
            [(i, float(i % 5)) for i in range(100)], "doc_id long, s double"
        )
        ranked, cached = bucket_ranked(df, ["s", "doc_id"], n_buckets=4)
        try:
            plan = ranked._jdf.queryExecution().executedPlan().toString()
            assert "SinglePartition" not in plan
            assert "Window" in plan  # the per-bucket window is still there
        finally:
            cached.unpersist()

    def test_empty_frame(self, spark):
        from imitation_learning_data_pipeline_spark.plans.windows import bucket_ranked

        df = spark.createDataFrame([], "doc_id long, s double")
        ranked, cached = bucket_ranked(df, ["s", "doc_id"], n_buckets=4)
        try:
            assert ranked.count() == 0
        finally:
            cached.unpersist()


class TestDistributedRankAuc:
    def test_matches_windowed_auc(self, spark):
        """rank_auc == the old global-window Mann-Whitney AUC on a
        planted good/spam corpus, including tied scores."""
        from pyspark.sql.window import Window

        from imitation_learning_data_pipeline_spark.plans.quality_model import rank_auc

        rows = []
        for i in range(300):
            label = 1 if i % 3 else 0
            # Coarse scores force cross-label ties.
            score = round(0.2 + 0.6 * label + 0.2 * ((i * 7) % 5) / 5.0, 2)
            rows.append((i, label, score))
        scored = spark.createDataFrame(rows, "doc_id long, label int, quality_score double")
        auc, row = rank_auc(scored)
        ranked = scored.withColumn(
            "r", F.row_number().over(Window.orderBy("quality_score", "doc_id"))
        )
        agg = ranked.agg(
            F.count("*").alias("n"),
            F.sum("label").alias("n_pos"),
            F.sum(F.when(F.col("label") == 1, F.col("r")).otherwise(0)).alias("rp"),
        ).collect()[0]
        n_pos = agg["n_pos"]
        n_neg = agg["n"] - n_pos
        want = (agg["rp"] - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg)
        assert auc == pytest.approx(want, abs=0)
        assert row["__n"] == 300

    def test_extra_aggs_fused(self, spark):
        from imitation_learning_data_pipeline_spark.plans.quality_model import rank_auc

        scored = spark.createDataFrame(
            [(i, i % 2, float(i % 2), i % 4 == 0) for i in range(40)],
            "doc_id long, label int, quality_score double, kept boolean",
        )
        _, row = rank_auc(
            scored,
            extra_aggs=[F.sum(F.when(F.col("kept"), 1).otherwise(0)).alias("n_kept")],
        )
        assert row["n_kept"] == 10

    def test_degenerate_single_class(self, spark):
        from imitation_learning_data_pipeline_spark.plans.quality_model import rank_auc

        scored = spark.createDataFrame(
            [(i, 1, float(i)) for i in range(5)],
            "doc_id long, label int, quality_score double",
        )
        auc, _ = rank_auc(scored)  # n_neg = 0: guarded by max(..., 1)
        assert auc >= 0.0


class TestRemoveDupSpansGapExpansion:
    def test_fully_duplicated_corpus(self, spark):
        """The r10 verdict's pathological case: identical long docs →
        |cov| ≈ n_words for every non-canonical doc. Gap-expansion must
        fully excise the non-canonical copies and leave the canonical
        doc (all-distinct words, so no within-doc repeats) untouched."""
        from imitation_learning_data_pipeline_spark.plans.dedup import (
            remove_dup_spans,
        )

        text = " ".join(f"word{i}" for i in range(300))
        docs = spark.createDataFrame(
            [(1, text), (2, text), (3, text)], "doc_id long, text string"
        )
        out = {r.doc_id: r for r in remove_dup_spans(docs).collect()}
        assert out[1].n_removed == 0 and out[1].kept_text.split() == text.split()
        for d in (2, 3):
            assert out[d].n_removed == out[d].n_words == 300
            assert out[d].kept_text == ""

    def test_interleaved_gaps(self, spark):
        """Covered runs with gaps between them: the complement-run
        expansion must keep exactly the uncovered indices, in order."""
        from imitation_learning_data_pipeline_spark.plans.dedup import (
            remove_dup_spans,
        )

        # Shared 8-gram at the start and at the end of doc 2, unique
        # middle: only the shared spans are excised from doc 2.
        shared1 = " ".join(f"a{i}" for i in range(8))
        shared2 = " ".join(f"b{i}" for i in range(8))
        middle = " ".join(f"mid{i}" for i in range(10))
        docs = spark.createDataFrame(
            [
                (1, shared1 + " " + shared2),
                (2, shared1 + " " + middle + " " + shared2),
            ],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in remove_dup_spans(docs).collect()}
        assert out[2].kept_text.split() == middle.split()
        assert out[2].n_removed == 16
        assert out[1].n_removed == 0


class TestBoto3CASBindings:
    """r10 verdict item 8: real-service bindings for ExternalCASBackend.
    boto3 isn't in this sandbox, so the tests inject botocore-shaped
    FAKE clients — the adapter code (conditional-put translation, error
    classification, age computation) is exactly what runs against the
    real service; only the transport is faked."""

    def _fake_ddb(self):
        store = {}

        class ConditionalCheckFailedException(Exception):
            pass

        class Client:
            def put_item(self, TableName, Item, ConditionExpression=None):
                key = Item["lock_key"]["S"]
                if ConditionExpression and key in store:
                    raise ConditionalCheckFailedException()
                store[key] = Item

            def delete_item(self, TableName, Key):
                store.pop(Key["lock_key"]["S"], None)

            def get_item(self, TableName, Key, ConsistentRead=False):
                item = store.get(Key["lock_key"]["S"])
                return {"Item": item} if item else {}

        return Client(), store

    def _fake_s3(self):
        import datetime

        store = {}

        class Client:
            def put_object(self, Bucket, Key, Body, IfNoneMatch=None):
                if IfNoneMatch == "*" and (Bucket, Key) in store:
                    exc = Exception("precondition failed")
                    exc.response = {
                        "Error": {"Code": "PreconditionFailed"},
                        "ResponseMetadata": {"HTTPStatusCode": 412},
                    }
                    raise exc
                store[(Bucket, Key)] = (
                    Body,
                    datetime.datetime.now(datetime.timezone.utc),
                )

            def delete_object(self, Bucket, Key):
                store.pop((Bucket, Key), None)

            def head_object(self, Bucket, Key):
                if (Bucket, Key) not in store:
                    exc = Exception("404")
                    exc.response = {"Error": {"Code": "404"}}
                    raise exc
                return {"LastModified": store[(Bucket, Key)][1]}

        return Client(), store

    def test_dynamodb_adapter_single_grant(self):
        from imitation_learning_data_pipeline_spark.pipeline.locks import (
            LockConflict,
            dynamodb_cas_backend,
        )

        client, store = self._fake_ddb()
        b = dynamodb_cas_backend("locks", client=client)
        b.acquire(None, None, None, "/tbl/_lock", "compact", None)
        assert "/tbl/_lock" in store
        with pytest.raises(LockConflict):
            b.acquire(None, None, None, "/tbl/_lock", "compact", None)
        assert b.release(None, None, "/tbl/_lock")
        b.acquire(None, None, None, "/tbl/_lock", "compact", None)

    def test_dynamodb_stale_takeover(self):
        import time as _t

        from imitation_learning_data_pipeline_spark.pipeline.locks import (
            dynamodb_cas_backend,
        )

        client, store = self._fake_ddb()
        b = dynamodb_cas_backend("locks", client=client)
        b.acquire(None, None, None, "/tbl/_lock", "compact", None)
        # backdate the holder, then take over past stale_lock_s
        store["/tbl/_lock"]["created_unix"]["N"] = repr(_t.time() - 100)
        b.acquire(None, None, None, "/tbl/_lock", "compact", 10.0)
        assert "/tbl/_lock" in store

    def test_s3_adapter_single_grant_and_age(self):
        from imitation_learning_data_pipeline_spark.pipeline.locks import (
            LockConflict,
            s3_cas_backend,
        )

        client, store = self._fake_s3()
        b = s3_cas_backend("bkt", client=client)
        b.acquire(None, None, None, "/tbl/_lock", "merge", None)
        assert ("bkt", "locks/tbl/_lock") in store
        with pytest.raises(LockConflict):
            b.acquire(None, None, None, "/tbl/_lock", "merge", None)
        age = b.age_s("/tbl/_lock")
        assert age is not None and 0 <= age < 5
        assert b.age_s("/tbl/absent") is None
        assert b.release(None, None, "/tbl/_lock")
        b.acquire(None, None, None, "/tbl/_lock", "merge", None)

    def test_unexpected_errors_propagate(self):
        """Only the conditional-conflict shape maps to LockConflict —
        a transport error must surface, not read as 'lock taken'."""
        from imitation_learning_data_pipeline_spark.pipeline.locks import (
            dynamodb_cas_backend,
        )

        class Client:
            def put_item(self, **kw):
                raise RuntimeError("network down")

        b = dynamodb_cas_backend("locks", client=Client())
        with pytest.raises(RuntimeError, match="network down"):
            b.acquire(None, None, None, "/tbl/_lock", "op", None)

    def test_import_gate_message(self):
        from imitation_learning_data_pipeline_spark.pipeline.locks import (
            dynamodb_cas_backend,
        )

        try:
            import boto3  # noqa: F401

            pytest.skip("boto3 installed; ImportError arm is moot")
        except ImportError:
            pass
        with pytest.raises(ImportError, match="boto3"):
            dynamodb_cas_backend("locks")


class TestBoto3RealClientStubber:
    """boto3 IS installed here — drive the adapters through a REAL
    boto3 client with botocore's Stubber, so the error-classification
    path is validated against genuine botocore ClientError shapes (not
    just the duck-typed fakes above)."""

    boto3 = pytest.importorskip("boto3")

    def _stubbed(self, service):
        import boto3
        from botocore.stub import Stubber

        client = boto3.client(service, region_name="us-east-1",
                              aws_access_key_id="x", aws_secret_access_key="y")
        return client, Stubber(client)

    def test_dynamodb_conditional_check_failed_maps_to_conflict(self):
        from imitation_learning_data_pipeline_spark.pipeline.locks import (
            LockConflict,
            dynamodb_cas_backend,
        )

        client, stub = self._stubbed("dynamodb")
        stub.add_client_error(
            "put_item",
            service_error_code="ConditionalCheckFailedException",
            service_message="The conditional request failed",
            http_status_code=400,
        )
        with stub:
            b = dynamodb_cas_backend("locks", client=client)
            with pytest.raises(LockConflict):
                b.acquire(None, None, None, "/tbl/_lock", "op", None)

    def test_dynamodb_throttle_propagates(self):
        from botocore.exceptions import ClientError

        from imitation_learning_data_pipeline_spark.pipeline.locks import (
            dynamodb_cas_backend,
        )

        client, stub = self._stubbed("dynamodb")
        stub.add_client_error(
            "put_item",
            service_error_code="ProvisionedThroughputExceededException",
            http_status_code=400,
        )
        with stub:
            b = dynamodb_cas_backend("locks", client=client)
            with pytest.raises(ClientError):
                b.acquire(None, None, None, "/tbl/_lock", "op", None)

    def test_s3_precondition_failed_maps_to_conflict(self):
        from imitation_learning_data_pipeline_spark.pipeline.locks import (
            LockConflict,
            s3_cas_backend,
        )

        client, stub = self._stubbed("s3")
        stub.add_client_error(
            "put_object",
            service_error_code="PreconditionFailed",
            service_message="At least one precondition did not hold",
            http_status_code=412,
        )
        with stub:
            b = s3_cas_backend("bkt", client=client)
            with pytest.raises(LockConflict):
                b.acquire(None, None, None, "/tbl/_lock", "op", None)

    def test_s3_successful_put_grants(self):
        from imitation_learning_data_pipeline_spark.pipeline.locks import (
            s3_cas_backend,
        )

        client, stub = self._stubbed("s3")
        stub.add_response("put_object", {"ETag": '"abc"'})
        with stub:
            b = s3_cas_backend("bkt", client=client)
            b.acquire(None, None, None, "/tbl/_lock", "op", None)  # no raise


class TestCurationRewritePiiOrder:
    def test_pii_after_rewrite_raises(self, spark):
        from imitation_learning_data_pipeline_spark.plans.curation import (
            curation_funnel,
        )

        docs = spark.createDataFrame(
            [(1, "contact me at a@b.com please")], "doc_id long, text string"
        )
        with pytest.raises(ValueError, match="pii.*after.*rewrite|'pii' after 'rewrite'"):
            curation_funnel(docs, stages=("gopher", "rewrite", "pii"))

    def test_pii_before_rewrite_allowed(self, spark):
        from imitation_learning_data_pipeline_spark.plans.curation import (
            curation_funnel,
        )

        text = " ".join(
            "the quick brown fox jumps over the lazy dog and that was fine because"
            .split() * 6
        )
        docs = spark.createDataFrame(
            [(i, text + f" tail{i} a@b.com") for i in range(4)],
            "doc_id long, text string",
        )
        cur, rep = curation_funnel(
            docs, stages=("pii", "rewrite"), report=True
        )
        assert cur.count() >= 1
        # pii ran while '@' still existed: no email survives the chain
        assert all("a@b.com" not in r.text for r in cur.collect())


class TestRobustEmbeddingOutliers:
    def _contaminated(self, spark, frac_out=0.2, n=100):
        rows = []
        for i in range(n):
            if i % int(1 / frac_out) == 0:
                v = [10.0, 0.0, 0.0, 0.0]
            else:
                v = [1.0 + (i % 7) * 0.01, 0.0, 0.0, 0.0]
            rows.append((i, v))
        return spark.createDataFrame(rows, "vec_id long, v array<double>")

    def test_naive_masks_robust_flags(self, spark):
        """20% contamination at 10x: mean/std inflates until planted
        rows z-score under 3 (masking); median+MAD still flags all of
        them with no base false flags."""
        from imitation_learning_data_pipeline_spark.plans.embedding_quality import (
            embedding_outliers,
        )

        vecs = self._contaminated(spark)
        planted = {i for i in range(100) if i % 5 == 0}
        naive = {
            r.vec_id for r in embedding_outliers(vecs).collect() if r.is_outlier
        }
        robust = {
            r.vec_id
            for r in embedding_outliers(vecs, robust=True).collect()
            if r.is_outlier
        }
        assert planted - naive, "naive baseline unexpectedly flagged everything"
        assert planted <= robust
        assert not (robust - planted), "robust flagged base rows"

    def test_robust_matches_naive_at_low_contamination(self, spark):
        """At the documented ~2% rate both baselines agree on the
        planted set — robust is a superset guard, not a different op."""
        from imitation_learning_data_pipeline_spark.plans.embedding_quality import (
            embedding_outliers,
        )

        vecs = self._contaminated(spark, frac_out=0.02, n=200)
        planted = {i for i in range(200) if i % 50 == 0}
        for mode in (False, True):
            got = {
                r.vec_id
                for r in embedding_outliers(vecs, robust=mode).collect()
                if r.is_outlier
            }
            assert got == planted, (mode, got ^ planted)


class TestFullFunnelQuery:
    def test_runs_and_is_deterministic(self, spark):
        from imitation_learning_data_pipeline_spark.plans.registry import QUERIES

        fn = QUERIES["pipeline_curation_full"]
        a = [tuple(r) for r in fn(spark, "/root/testdata/sf0.001").collect()]
        b = [tuple(r) for r in fn(spark, "/root/testdata/sf0.001").collect()]
        assert a == b and len(a) >= 1
        # every language bucket carries survivors of the whole chain
        assert all(n > 0 for (_, n, w) in a) and all(w > 0 for (_, n, w) in a)

    def test_survivors_are_subset_of_gopher_keepers(self, spark):
        """The composed chain can only shrink the gopher-kept set —
        a cheap cross-check that stage composition actually chains."""
        from pyspark.sql import functions as F

        from imitation_learning_data_pipeline_spark.plans.registry import QUERIES
        from imitation_learning_data_pipeline_spark.plans.text import gopher_rules
        from imitation_learning_data_pipeline_spark.sources import load_table
        from imitation_learning_data_pipeline_spark.sources.readers import spread

        sf = "/root/testdata/sf0.001"
        total_curated = sum(
            r.n_docs for r in QUERIES["pipeline_curation_full"](spark, sf).collect()
        )
        docs = spread(load_table(spark, sf, "documents")).select("doc_id", "text")
        n_gopher = (
            gopher_rules(docs, 1).filter(F.col("keep")).count()
        )
        assert 0 < total_curated < n_gopher


class TestNgramNovelty:
    def test_planted_copies_low_novelty(self, spark):
        from imitation_learning_data_pipeline_spark.plans.dedup import ngram_novelty

        unique = " ".join(f"u{i}" for i in range(40))
        copied = " ".join(f"c{i}" for i in range(40))
        docs = spark.createDataFrame(
            [(1, unique), (2, copied), (3, copied), (4, "short text")],
            "doc_id long, text string",
        )
        got = {r.doc_id: r for r in ngram_novelty(docs).collect()}
        assert got[1].n_dup == 0 and got[1].is_novel
        # exact copies: every occurrence duplicated on both sides
        for d in (2, 3):
            assert got[d].n_dup == got[d].n_grams > 0
            assert not got[d].is_novel
        # too short for an 8-gram: zero grams, trivially novel
        assert got[4].n_grams == 0 and got[4].is_novel

    def test_within_doc_repeats_count(self, spark):
        from imitation_learning_data_pipeline_spark.plans.dedup import ngram_novelty

        span = " ".join(f"w{i}" for i in range(8))
        doc = span + " mid1 mid2 mid3 mid4 mid5 mid6 mid7 mid8 " + span
        docs = spark.createDataFrame([(1, doc)], "doc_id long, text string")
        got = ngram_novelty(docs).collect()[0]
        assert got.n_dup == 2  # the repeated 8-gram's two occurrences


class TestUnimaxAllocation:
    def _counts(self, spark, vals):
        return spark.createDataFrame(
            [(f"l{i}", v) for i, v in enumerate(vals)], "lang string, n_tokens long"
        )

    def test_water_filling_exact(self, spark):
        from imitation_learning_data_pipeline_spark.plans.sampling import (
            unimax_allocation,
        )

        # caps [10, 20, 100], B = 60: l0 capped (10), l1 capped (20),
        # theta = (60-30)/1 = 30 for l2.
        got = {
            r.lang: r
            for r in unimax_allocation(
                self._counts(spark, [10, 20, 100]), budget=60
            ).collect()
        }
        assert (got["l0"].alloc, got["l1"].alloc, got["l2"].alloc) == (10, 20, 30)
        assert got["l0"].capped and got["l1"].capped and not got["l2"].capped
        assert sum(r.alloc for r in got.values()) == 60

    def test_budget_exceeds_corpus(self, spark):
        from imitation_learning_data_pipeline_spark.plans.sampling import (
            unimax_allocation,
        )

        got = unimax_allocation(self._counts(spark, [5, 7]), budget=100).collect()
        assert {r.lang: r.alloc for r in got} == {"l0": 5, "l1": 7}
        assert all(r.capped for r in got)

    def test_uniform_when_budget_small(self, spark):
        from imitation_learning_data_pipeline_spark.plans.sampling import (
            unimax_allocation,
        )

        got = unimax_allocation(
            self._counts(spark, [50, 60, 70]), budget=30
        ).collect()
        assert all(r.alloc == 10 and not r.capped for r in got)

    def test_epochs_scale_caps(self, spark):
        from imitation_learning_data_pipeline_spark.plans.sampling import (
            unimax_allocation,
        )

        got = {
            r.lang: r
            for r in unimax_allocation(
                self._counts(spark, [10, 100]), epochs=2, budget=50
            ).collect()
        }
        # caps [20, 200]; l0 capped at 20, l1 gets (50-20)/1 = 30
        assert got["l0"].alloc == 20 and got["l0"].cap == 20
        assert got["l1"].alloc == 30

    def test_never_exceeds_budget_and_deterministic(self, spark):
        from imitation_learning_data_pipeline_spark.plans.sampling import (
            unimax_allocation,
        )

        counts = self._counts(spark, [13, 27, 31, 999, 4])
        for b in (7, 50, 333, 2000):
            rows = unimax_allocation(counts, budget=b).collect()
            total = sum(r.alloc for r in rows)
            assert total <= b
            # integer water-fill leaves < k tokens on the table when binding
            if sum((13, 27, 31, 999, 4)) > b:
                assert b - total < len(rows)

    def test_param_validation(self, spark):
        from imitation_learning_data_pipeline_spark.plans.sampling import (
            unimax_allocation,
        )

        with pytest.raises(ValueError, match="exactly one"):
            unimax_allocation(self._counts(spark, [1]), budget=None, budget_frac=None)


class TestRound11Cli:
    def test_novelty_and_unimax_verbs(self, spark, tmp_path, capsys):
        import json

        from imitation_learning_data_pipeline_spark.cli import main

        copied = " ".join(f"c{i}" for i in range(40))
        rows = [(1, "en", " ".join(f"u{i}" for i in range(40))),
                (2, "en", copied), (3, "de", copied),
                (4, "de", " ".join(f"v{i}" for i in range(10)))]
        src = str(tmp_path / "docs")
        spark.createDataFrame(rows, "doc_id long, lang string, text string").write.parquet(src)

        out = str(tmp_path / "nov")
        rc = main(["novelty", "--input", src, "--out", out])
        assert rc == 0
        stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert stats["docs"] == 4 and stats["low_novelty"] == 2
        got = {r.doc_id: r.is_novel for r in spark.read.parquet(out).collect()}
        assert got == {1: True, 2: False, 3: False, 4: True}

        rc = main(["unimax", "--input", src, "--budget", "60",
                   "--out", str(tmp_path / "plan")])
        assert rc == 0
        lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
        plan = {d["lang"]: d for d in lines}
        assert set(plan) == {"en", "de"}
        assert sum(d["alloc"] for d in plan.values()) <= 60
        # de has fewer tokens (50) than en (80): with B=60 both level
        # at 30 (neither capped at 50/80 caps)
        assert plan["de"]["alloc"] == 30 and plan["en"]["alloc"] == 30


class TestIncrementalNovelty:
    def test_batch_scoring_equals_full_corpus(self, spark, tmp_path):
        """The exactness invariant: batch-2 docs scored against
        store(batch 1) + batch 2 itself == full-corpus ngram_novelty
        restricted to batch-2 docs."""
        from imitation_learning_data_pipeline_spark.plans.dedup import (
            ngram_novelty,
            novelty_against_store,
            read_novelty_gram_store,
            write_novelty_gram_store,
        )

        copied = " ".join(f"c{i}" for i in range(30))
        b1 = spark.createDataFrame(
            [(1, " ".join(f"a{i}" for i in range(30))), (2, copied)],
            "doc_id long, text string",
        )
        b2 = spark.createDataFrame(
            [(10, copied), (11, " ".join(f"z{i}" for i in range(30)))],
            "doc_id long, text string",
        )
        path = str(tmp_path / "grams")
        write_novelty_gram_store(b1, path)
        got = {
            r.doc_id: (r.n_grams, r.n_dup, r.is_novel)
            for r in novelty_against_store(
                b2, read_novelty_gram_store(spark, path)
            ).collect()
        }
        full = {
            r.doc_id: (r.n_grams, r.n_dup, r.is_novel)
            for r in ngram_novelty(b1.unionByName(b2)).collect()
            if r.doc_id >= 10
        }
        assert got == full
        assert not got[10][2] and got[11][2]  # copy flagged, fresh doc novel

    def test_stream_replays_and_store_guard(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.plans.dedup import (
            ngram_novelty,
            read_novelty_gram_store,
        )
        from imitation_learning_data_pipeline_spark.streaming.incremental import (
            run_incremental_novelty_stream,
        )

        copied = " ".join(f"c{i}" for i in range(30))
        rows = [(i, copied if i % 3 == 0 else " ".join(f"d{i}x{j}" for j in range(30)))
                for i in range(12)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        src = str(tmp_path / "src")
        docs.repartition(3).write.parquet(src)
        stream = spark.readStream.schema("doc_id long, text string").option(
            "maxFilesPerTrigger", 1
        ).parquet(src)
        store, out, ck = (str(tmp_path / p) for p in ("grams", "nov", "ck"))
        run_incremental_novelty_stream(stream, store, out, ck)
        got = {r.doc_id: r.is_novel for r in spark.read.parquet(out).collect()}
        assert set(got) == set(range(12))
        # every copied doc AFTER the first-seen batch is flagged; the
        # stream order decides which batch saw it first, so at minimum
        # the copies are not ALL novel and the unique docs all are
        copies = [i for i in range(12) if i % 3 == 0]
        uniques = [i for i in range(12) if i % 3 != 0]
        assert all(got[i] for i in uniques)
        assert sum(not got[i] for i in copies) >= len(copies) - 1
        # store folds to the full corpus counts
        total = read_novelty_gram_store(spark, store).agg(
            F.sum("c").alias("s")
        ).collect()[0]["s"]
        full = ngram_novelty(docs).agg(F.sum("n_grams").alias("s")).collect()[0]["s"]
        assert total == full
        # guard
        import pytest as _pytest

        bad = str(tmp_path / "bad")
        spark.range(3).write.parquet(bad)
        with _pytest.raises(ValueError, match="gram store"):
            read_novelty_gram_store(spark, bad)


class TestScoreDriftPsi:
    def _scored(self, spark, scores):
        return spark.createDataFrame([(float(s),) for s in scores], "score double")

    def test_identical_distributions_near_zero(self, spark):
        from imitation_learning_data_pipeline_spark.plans.monitor import (
            score_drift_psi,
        )

        scores = [(i % 100) / 100.0 for i in range(1000)]
        out = score_drift_psi(
            self._scored(spark, scores), self._scored(spark, scores)
        ).collect()
        assert [r.bucket for r in out] == list(range(10))
        psi = sum(r.psi_int for r in out) / 1e6
        assert psi < 0.01

    def test_planted_shift_detected(self, spark):
        """Reference uniform, current shifted hard into the top
        buckets: PSI must cross the conventional 0.25 alert line."""
        from imitation_learning_data_pipeline_spark.plans.monitor import (
            score_drift_psi,
        )

        ref = [(i % 100) / 100.0 for i in range(1000)]
        cur = [0.8 + (i % 20) / 100.0 for i in range(1000)]
        out = score_drift_psi(
            self._scored(spark, ref), self._scored(spark, cur)
        ).collect()
        psi = sum(r.psi_int for r in out) / 1e6
        assert psi > 0.25
        # counts align on the full spine, including 0-filled buckets
        got = {r.bucket: (r.n_ref, r.n_cur) for r in out}
        assert got[0][1] == 0 and got[9][1] > 0
        assert sum(v[0] for v in got.values()) == 1000

    def test_out_of_range_clamps(self, spark):
        from imitation_learning_data_pipeline_spark.plans.monitor import (
            score_drift_psi,
        )

        out = score_drift_psi(
            self._scored(spark, [-0.5, 0.5, 1.5]),
            self._scored(spark, [0.5]),
        ).collect()
        got = {r.bucket: r.n_ref for r in out}
        assert got[0] == 1 and got[5] == 1 and got[9] == 1


class TestScoreDriftNulls:
    def test_null_scores_excluded(self, spark):
        from imitation_learning_data_pipeline_spark.plans.monitor import (
            score_drift_psi,
        )

        ref = spark.createDataFrame(
            [(0.5,), (None,), (0.5,)], "score double"
        )
        cur = spark.createDataFrame([(0.5,)], "score double")
        out = score_drift_psi(ref, cur).collect()
        got = {r.bucket: r.n_ref for r in out}
        assert got[5] == 2 and sum(got.values()) == 2  # null excluded


class TestPsiCli:
    def test_verb(self, spark, tmp_path, capsys):
        import json

        from imitation_learning_data_pipeline_spark.cli import main

        spark.createDataFrame(
            [(float((i % 100) / 100),) for i in range(500)], "score double"
        ).write.parquet(str(tmp_path / "ref"))
        spark.createDataFrame(
            [(0.9 + (i % 10) / 100.0,) for i in range(500)], "score double"
        ).write.parquet(str(tmp_path / "cur"))
        rc = main(["psi", "--input", str(tmp_path / "ref"),
                   "--against", str(tmp_path / "cur")])
        assert rc == 0
        lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
        assert len(lines) == 11  # 10 buckets + verdict
        assert lines[-1]["verdict"] == "ALERT" and lines[-1]["psi"] > 0.25


class TestCompositePlanCache:
    def test_nested_begin_plan_keeps_pins(self, spark):
        from imitation_learning_data_pipeline_spark import cache

        cache.begin_plan()
        with cache.composite():
            a = cache.pin(spark.range(5))
            cache.begin_plan()  # a nested builder starting its plan
            b = cache.pin(spark.range(5, 10))
            assert a.storageLevel.useMemory and b.storageLevel.useMemory
        # composite exited: pins still live until the NEXT top-level plan
        assert a.storageLevel.useMemory and b.storageLevel.useMemory
        cache.begin_plan()
        assert not a.storageLevel.useMemory and not b.storageLevel.useMemory

    def test_depth_unwinds_on_exception(self, spark):
        from imitation_learning_data_pipeline_spark import cache

        try:
            with cache.composite():
                cache.pin(spark.range(3))
                raise RuntimeError("stage blew up")
        except RuntimeError:
            pass
        # top-level begin_plan must evict again (depth unwound)
        c = cache.pin(spark.range(3))
        cache.begin_plan()
        assert not c.storageLevel.useMemory

    def test_funnel_raises_unwind(self, spark):
        """curation_funnel's own finally must unwind the depth when a
        stage raises (the blocklist stage without blockwords)."""
        from imitation_learning_data_pipeline_spark import cache
        from imitation_learning_data_pipeline_spark.plans.curation import (
            curation_funnel,
        )

        docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with pytest.raises(ValueError, match="blockwords"):
            curation_funnel(docs, stages=("blocklist",), report=False)
        d = cache.pin(spark.range(2))
        cache.begin_plan()
        assert not d.storageLevel.useMemory
