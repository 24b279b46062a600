"""Round-12 hardening (VERDICT r11 #1 + next-round item 1): the HLL
register-store fold is now a locked, fenced, journaled commit — the
same single-writer discipline as plans/rollup.py::fold_rollup_into_store.
Every test hand-builds or injects the crash state (the round-9 rollup
pattern) and asserts the next consumer converges to the committed state
exactly once."""

from __future__ import annotations

import json
import os

import pytest

import imitation_learning_data_pipeline_spark.pipeline.fsio as fsio
from imitation_learning_data_pipeline_spark.pipeline.compact import (
    ConcurrentMaintenanceError,
)
from imitation_learning_data_pipeline_spark.plans.hll import (
    fold_into_hll_store,
    hll_estimate,
    hll_registers,
    read_hll_store,
    recover_hll_store,
    write_hll_store,
)

PENDING = "__hll_pending.json"


def _items(spark, lo: int, hi: int):
    return spark.createDataFrame(
        [(f"item-{i}",) for i in range(lo, hi)], ["item"]
    )


def _regs(spark, lo: int, hi: int):
    return hll_registers(_items(spark, lo, hi), "item")


def _state(spark, p):
    return {(int(r["bucket"]), int(r["rho_max"])) for r in read_hll_store(spark, p).collect()}


def _expected_once(spark, lo_a, hi_a, lo_b, hi_b):
    """Registers of A ∪ B computed in one shot — the exactly-once truth."""
    both = _items(spark, lo_a, hi_a).unionByName(_items(spark, lo_b, hi_b))
    return {
        (int(r["bucket"]), int(r["rho_max"]))
        for r in hll_registers(both, "item").collect()
    }


class TestHllFoldLockAndFence:
    def test_fold_batch_id_fence_replay_noop(self, spark, tmp_path):
        """A replayed batch_id is a no-op; a fresh batch_id folds and
        the result equals the one-shot registers of the union."""
        p = str(tmp_path / "hll1")
        assert fold_into_hll_store(spark, _regs(spark, 0, 100), p, batch_id=1) == {
            "folded": True
        }
        before = _state(spark, p)
        assert fold_into_hll_store(spark, _regs(spark, 0, 100), p, batch_id=1) == {
            "folded": False
        }
        assert _state(spark, p) == before
        assert fold_into_hll_store(spark, _regs(spark, 100, 200), p, batch_id=2) == {
            "folded": True
        }
        assert _state(spark, p) == _expected_once(spark, 0, 100, 100, 200)
        # fence meta travels inside the dir and Spark's reader ignores it
        assert json.load(open(os.path.join(p, "__hll_meta.json")))["last_batch"] == 2
        assert set(read_hll_store(spark, p).columns) == {"bucket", "rho_max"}

    def test_unfenced_fold_still_exact(self, spark, tmp_path):
        """batch_id is optional — registers max-merge, so even an
        unfenced double fold cannot move the state."""
        p = str(tmp_path / "hll2")
        fold_into_hll_store(spark, _regs(spark, 0, 50), p)
        once = _state(spark, p)
        fold_into_hll_store(spark, _regs(spark, 0, 50), p)
        assert _state(spark, p) == once

    def test_concurrent_fold_raises_then_stale_takeover(self, spark, tmp_path):
        """A second writer hitting a held lock raises instead of
        silently last-writer-winning; stale_lock_s allows takeover of a
        crashed holder's lock (merge/compact contract)."""
        p = str(tmp_path / "hll3")
        fold_into_hll_store(spark, _regs(spark, 0, 50), p, batch_id=1)
        lock = p + "__maintenance_lock"
        with open(lock, "w") as fh:
            fh.write('{"op": "hll-fold", "pid": 1}')
        with pytest.raises(ConcurrentMaintenanceError):
            fold_into_hll_store(spark, _regs(spark, 50, 100), p, batch_id=2)
        # the held-lock loser changed nothing
        assert _state(spark, p) == {
            (int(r["bucket"]), int(r["rho_max"]))
            for r in _regs(spark, 0, 50).collect()
        }
        os.utime(lock, (1_000_000, 1_000_000))  # ancient mtime
        out = fold_into_hll_store(
            spark, _regs(spark, 50, 100), p, batch_id=2, stale_lock_s=3600
        )
        assert out == {"folded": True}
        assert _state(spark, p) == _expected_once(spark, 0, 50, 50, 100)
        assert not os.path.exists(lock)

    def test_write_hll_store_respects_lock(self, spark, tmp_path):
        """A direct write_hll_store racing a fold would drop the fold's
        batch — it takes the same lock now (VERDICT r11 #1)."""
        p = str(tmp_path / "hll4")
        lock = p + "__maintenance_lock"
        with open(lock, "w") as fh:
            fh.write('{"op": "hll-fold", "pid": 1}')
        with pytest.raises(ConcurrentMaintenanceError):
            write_hll_store(_regs(spark, 0, 10), p)
        os.remove(lock)
        write_hll_store(_regs(spark, 0, 10), p)
        assert hll_estimate(read_hll_store(spark, p)) > 0
        assert not os.path.exists(lock)


class TestHllFoldCrashRecovery:
    def _crash_fold(self, spark, p, regs, where: str, batch_id=None):
        """Run a fold that dies at the named step of the shared staged
        swap (``_write_journal``: before the commit point; ``_swap_in``:
        after it). The lock is released — the fold's finally ran, as for
        any soft failure."""
        with pytest.MonkeyPatch.context() as mp:

            def boom(*a, **k):
                raise RuntimeError("injected crash")

            mp.setattr(fsio, where, boom)
            with pytest.raises(RuntimeError, match="injected crash"):
                fold_into_hll_store(spark, regs, p, batch_id=batch_id)

    def test_crash_before_journal_discards_staging(self, spark, tmp_path):
        """Crash BEFORE the journal lands: staging is discarded and the
        replay folds normally — exactly once, via the retry."""
        p = str(tmp_path / "hc1")
        fold_into_hll_store(spark, _regs(spark, 0, 50), p, batch_id=1)
        self._crash_fold(spark, p, _regs(spark, 50, 100), "_write_journal", 2)
        assert not os.path.exists(p + PENDING)
        out = fold_into_hll_store(spark, _regs(spark, 50, 100), p, batch_id=2)
        assert out == {"folded": True}
        assert not os.path.exists(p + "__hll_tmp")
        assert _state(spark, p) == _expected_once(spark, 0, 50, 50, 100)

    def test_crash_after_journal_replay_converges(self, spark, tmp_path):
        """Crash AFTER the journal (the commit point) but BEFORE the
        swap: the next fold completes the staged commit first — fence
        included — so the replayed batch_id is a no-op, folded exactly
        once."""
        p = str(tmp_path / "hc2")
        fold_into_hll_store(spark, _regs(spark, 0, 50), p, batch_id=1)
        self._crash_fold(spark, p, _regs(spark, 50, 100), "_swap_in", 2)
        assert os.path.exists(p + PENDING)
        out = fold_into_hll_store(spark, _regs(spark, 50, 100), p, batch_id=2)
        assert out == {"folded": False}
        assert not os.path.exists(p + PENDING)
        assert not os.path.exists(p + "__hll_tmp")
        assert _state(spark, p) == _expected_once(spark, 0, 50, 50, 100)

    def test_crash_after_swap_before_journal_clear(self, spark, tmp_path):
        """Journal present, staged dir gone, store present: the swap
        completed — recovery just clears the journal."""
        p = str(tmp_path / "hc3")
        fold_into_hll_store(spark, _regs(spark, 0, 50), p, batch_id=1)
        once = _state(spark, p)
        with open(p + PENDING, "w") as fh:
            fh.write("{}")
        assert recover_hll_store(spark, p) is True
        assert not os.path.exists(p + PENDING)
        assert _state(spark, p) == once

    def test_recover_standalone_and_stale_lock(self, spark, tmp_path):
        """A HARD crash strands the lock too: recover_hll_store refuses
        by default, takes over with stale_lock_s, and a second recover
        finds nothing to do."""
        p = str(tmp_path / "hc4")
        fold_into_hll_store(spark, _regs(spark, 0, 50), p, batch_id=1)
        self._crash_fold(spark, p, _regs(spark, 50, 100), "_swap_in", 2)
        lock = p + "__maintenance_lock"
        with open(lock, "w") as fh:
            fh.write('{"op": "hll-fold", "pid": 1}')
        os.utime(lock, (1_000_000, 1_000_000))
        with pytest.raises(ConcurrentMaintenanceError):
            recover_hll_store(spark, p)
        assert recover_hll_store(spark, p, stale_lock_s=3600) is True
        assert _state(spark, p) == _expected_once(spark, 0, 50, 50, 100)
        assert recover_hll_store(spark, p) is False

    def test_write_hll_store_completes_crashed_commit(self, spark, tmp_path):
        """A plain write on a crashed path recovers the journaled fold
        first, then overwrites — no torn state is ever observable."""
        p = str(tmp_path / "hc5")
        fold_into_hll_store(spark, _regs(spark, 0, 50), p, batch_id=1)
        self._crash_fold(spark, p, _regs(spark, 50, 100), "_swap_in", 2)
        write_hll_store(_regs(spark, 0, 10), p)
        assert not os.path.exists(p + PENDING)
        assert not os.path.exists(p + "__hll_tmp")
        assert _state(spark, p) == {
            (int(r["bucket"]), int(r["rho_max"]))
            for r in _regs(spark, 0, 10).collect()
        }


class TestBucketRankedSingleScan:
    def test_upstream_scanned_exactly_once(self, spark):
        """VERDICT r11 #3: the approxQuantile boundary probe and the
        bucket fill must share ONE materialization of the upstream
        chain. A counting UDF upstream proves it: the accumulator
        advances exactly n during bucket_ranked (probe fills the input
        cache; the fill reads the cache), not 2n."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        from imitation_learning_data_pipeline_spark.plans.windows import bucket_ranked

        acc = spark.sparkContext.accumulator(0)

        def _count(x):
            acc.add(1)
            return x

        count_udf = F.udf(_count, LongType())
        n = 500
        df = spark.range(n).select(
            count_udf(F.col("id")).alias("v"), F.col("id").alias("k")
        )
        ranked, cached = bucket_ranked(df, ["v", "k"], rank_col="r", n_buckets=8)
        try:
            scans_during_build = acc.value
            assert scans_during_build == n, (
                f"upstream scanned {scans_during_build / n:.1f}x during build"
            )
            rows = ranked.select("k", "r").collect()
        finally:
            cached.unpersist()
        # the ranked read hit the bucketed cache — still exactly one scan
        assert acc.value == n
        # and the rank is the exact global row_number over (v, k)
        assert sorted((r["k"], r["r"]) for r in rows) == [(i, i + 1) for i in range(n)]

    def test_window_global_rank_pins_are_evicted(self, spark, tmp_path):
        """ADVICE r11 (medium): window_global_rank used to leak one
        events-sized persisted frame per invocation. The cache is now
        registered with the plan registry, so the next top-level plan
        evicts it."""
        import imitation_learning_data_pipeline_spark.cache as cache
        from imitation_learning_data_pipeline_spark.plans.windows import (
            window_global_rank,
        )

        sf = "/root/testdata/sf0.001"
        cache.begin_plan()
        assert cache._PINS == []
        out = window_global_rank(spark, sf)
        assert len(cache._PINS) == 1
        n = out.count()
        assert n > 0
        # a second invocation evicts the first's pin — never >1 resident
        out2 = window_global_rank(spark, sf)
        assert len(cache._PINS) == 1
        assert out2.count() == n
        cache.begin_plan()
        assert cache._PINS == []


class TestCas409Classification:
    """ADVICE r11 (low): a bare HTTP 409 was read as a lost CAS race
    regardless of Error.Code — but S3-compatible stores reuse 409 for
    unrelated conflicts (OperationAborted, directory-bucket conflicts)
    that are infrastructure errors. 409 maps to LockConflict ONLY when
    the code is ConditionalRequestConflict or absent."""

    boto3 = pytest.importorskip("boto3")

    def _stubbed_s3(self):
        import boto3
        from botocore.stub import Stubber

        client = boto3.client(
            "s3",
            region_name="us-east-1",
            aws_access_key_id="x",
            aws_secret_access_key="y",
        )
        return client, Stubber(client)

    def _acquire(self, client):
        from imitation_learning_data_pipeline_spark.pipeline.locks import (
            s3_cas_backend,
        )

        b = s3_cas_backend("bkt", client=client)
        b.acquire(None, None, None, "/tbl/_lock", "op", None)

    def test_409_conditional_request_conflict_is_lock_conflict(self):
        from imitation_learning_data_pipeline_spark.pipeline.locks import (
            LockConflict,
        )

        client, stub = self._stubbed_s3()
        stub.add_client_error(
            "put_object",
            service_error_code="ConditionalRequestConflict",
            service_message="A conflicting conditional operation is in progress",
            http_status_code=409,
        )
        with stub:
            with pytest.raises(LockConflict):
                self._acquire(client)

    def test_409_other_code_propagates(self):
        from botocore.exceptions import ClientError

        client, stub = self._stubbed_s3()
        stub.add_client_error(
            "put_object",
            service_error_code="OperationAborted",
            service_message="A conflicting operation is in progress against this resource",
            http_status_code=409,
        )
        with stub:
            with pytest.raises(ClientError):
                self._acquire(client)

    def test_bare_409_no_code_is_lock_conflict(self):
        """Some S3-compatible stores answer a naked 409 with no
        Error.Code on a lost conditional write — still contention."""
        from imitation_learning_data_pipeline_spark.pipeline.locks import (
            LockConflict,
            _is_conditional_failure,
        )

        class Bare409(Exception):
            response = {"Error": {}, "ResponseMetadata": {"HTTPStatusCode": 409}}

        assert _is_conditional_failure(Bare409())

        class Coded409(Exception):
            response = {
                "Error": {"Code": "BucketAlreadyOwnedByYou"},
                "ResponseMetadata": {"HTTPStatusCode": 409},
            }

        assert not _is_conditional_failure(Coded409())
        assert LockConflict is not None


class TestShardTmpAttemptUnique:
    """ADVICE r11 (low): shard .tmp names embed the task attempt id so
    a speculative/retried attempt can never interleave bytes into
    another attempt's tmp before the atomic rename."""

    def test_tfrecord_final_names_and_no_tmp_residue(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline.tfrecord import (
            export_tfrecord,
        )

        df = spark.createDataFrame(
            [(i, f"doc {i}") for i in range(40)], "doc_id long, text string"
        )
        out = str(tmp_path / "tfr")
        rep = export_tfrecord(df, out, n_shards=4, id_col="doc_id")
        names = sorted(os.listdir(out))
        assert names == [f"shard-{r['shard']:05d}.tfrecord" for r in rep]
        assert not any(".tmp" in n for n in names)

    def test_webdataset_final_names_and_no_tmp_residue(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline.webdataset import (
            export_webdataset,
        )

        df = spark.createDataFrame(
            [(i, f"doc {i}") for i in range(40)], "doc_id long, text string"
        )
        out = str(tmp_path / "wds")
        rep = export_webdataset(df, out, n_shards=4, id_col="doc_id")
        names = sorted(os.listdir(out))
        assert names == [f"shard-{r['shard']:06d}.tar" for r in rep]
        assert not any(".tmp" in n for n in names)


class TestIvfScanFractionDegenerate:
    def test_no_probed_cells_reports_zero_files_read(self, spark, tmp_path):
        """ADVICE r11 (low): when every probed cell directory is
        absent, the search reads nothing — the pruning receipt must say
        files_read=0, not files_read == files_total (the schema
        reader's inputFiles())."""
        import numpy as np

        from imitation_learning_data_pipeline_spark.plans.mllib_ops import (
            ivf_scan_fraction,
            search_ivf_index,
            write_ivf_index,
        )

        rng = np.random.default_rng(7)
        rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(60)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        path = str(tmp_path / "ivf")
        write_ivf_index(emb, path, k=4)
        # delete EVERY cell directory: the index exists but no probed
        # cell can resolve — the degenerate case the receipt inverted on
        import shutil

        vec_root = os.path.join(path, "vectors")
        for d in os.listdir(vec_root):
            if d.startswith("cell_id="):
                shutil.rmtree(os.path.join(vec_root, d))
        q = spark.createDataFrame(rows[:3], "qid long, v array<double>")
        frac = ivf_scan_fraction(spark, path, q, nprobe=2)
        assert frac["files_read"] == 0
        assert frac["files_total"] == 0  # nothing left on disk either
        # and the search itself returns an empty, well-formed frame
        out = search_ivf_index(spark, path, q, nprobe=2, k_neighbors=3)
        assert out.count() == 0
        assert set(out.columns) == {"qid", "rnk", "vec_id", "cos_sim"}

    def test_partial_cells_still_counts_pruned_files(self, spark, tmp_path):
        """Receipt sanity on the normal path: probing a subset reads a
        strict subset of the files."""
        import numpy as np

        from imitation_learning_data_pipeline_spark.plans.mllib_ops import (
            ivf_scan_fraction,
            write_ivf_index,
        )

        rng = np.random.default_rng(11)
        rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(200)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        path = str(tmp_path / "ivf2")
        write_ivf_index(emb, path, k=8)
        q = spark.createDataFrame(rows[:1], "qid long, v array<double>")
        frac = ivf_scan_fraction(spark, path, q, nprobe=1)
        assert 0 < frac["files_read"] < frac["files_total"]


class TestDeltaLogWriter:
    """r11 verdict item 6: the repo can already REPLAY a Delta log; the
    writer twin emits `_delta_log/NNN.json` add/remove actions from the
    repo's own manifest, so a Delta-reading engine can consume
    repo-maintained tables — and the bridge gets a bidirectional
    roundtrip that runs WITHOUT delta-spark."""

    def _mk_table(self, spark, p, n=40):
        df = spark.createDataFrame(
            [(i, f"v{i}") for i in range(n)], "id long, s string"
        )
        df.repartition(3).write.mode("overwrite").parquet(p)

    def _manifest_live(self, spark, p):
        from imitation_learning_data_pipeline_spark.pipeline.manifest import (
            read_manifest_entries,
        )

        return {rel: int(b) for rel, b in read_manifest_entries(spark, p)["files"]}

    def test_bootstrap_sync_replays_to_manifest_live_set(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline.delta_log import (
            read_delta_snapshot,
            sync_delta_log_from_manifest,
        )
        from imitation_learning_data_pipeline_spark.pipeline.manifest import (
            write_manifest,
        )

        p = str(tmp_path / "t1")
        self._mk_table(spark, p)
        write_manifest(spark, p)
        out = sync_delta_log_from_manifest(spark, p)
        assert out["changed"] and out["version"] == 0 and out["n_remove"] == 0
        snap = read_delta_snapshot(spark, p)
        assert snap["version"] == 0
        assert {r: m["size"] for r, m in snap["files"].items()} == (
            self._manifest_live(spark, p)
        )
        assert not any(m["dv"] for m in snap["files"].values())
        # idempotent: a second sync commits nothing
        again = sync_delta_log_from_manifest(spark, p)
        assert again == {
            "version": 0, "n_add": 0, "n_remove": 0, "changed": False,
            "schema_updated": False,
        }

    def test_maintenance_delta_emits_tombstones_and_adds(self, spark, tmp_path):
        import glob

        from imitation_learning_data_pipeline_spark.pipeline.delta_log import (
            read_delta_snapshot,
            sync_delta_log_from_manifest,
        )
        from imitation_learning_data_pipeline_spark.pipeline.manifest import (
            write_manifest,
        )

        p = str(tmp_path / "t2")
        self._mk_table(spark, p)
        write_manifest(spark, p)
        sync_delta_log_from_manifest(spark, p)
        before = self._manifest_live(spark, p)
        # a maintenance-style rewrite: one live file leaves, new ones land
        gone = sorted(before)[0]
        os.remove(os.path.join(p, gone))
        spark.createDataFrame(
            [(100 + i, f"n{i}") for i in range(10)], "id long, s string"
        ).coalesce(1).write.mode("append").parquet(p)
        write_manifest(spark, p)  # wholesale refresh = the compact path
        after = self._manifest_live(spark, p)
        assert gone not in after and set(after) != set(before)
        out = sync_delta_log_from_manifest(spark, p)
        assert out["changed"] and out["version"] == 1
        assert out["n_remove"] == 1 and out["n_add"] >= 1
        snap = read_delta_snapshot(spark, p)
        assert snap["version"] == 1
        assert {r: m["size"] for r, m in snap["files"].items()} == after
        # the tombstone is a real remove action in the commit JSON
        commit1 = os.path.join(p, "_delta_log", f"{1:020d}.json")
        actions = [
            json.loads(line) for line in open(commit1) if line.strip()
        ]
        removes = [a["remove"]["path"] for a in actions if "remove" in a]
        assert removes == [gone]

    def test_partitioned_table_partition_columns_and_values(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline.delta_log import (
            read_delta_snapshot,
            sync_delta_log_from_manifest,
        )
        from imitation_learning_data_pipeline_spark.pipeline.manifest import (
            write_manifest,
        )

        p = str(tmp_path / "t3")
        df = spark.createDataFrame(
            [(i, "train" if i % 2 else "val") for i in range(20)],
            "id long, split string",
        )
        df.write.mode("overwrite").partitionBy("split").parquet(p)
        write_manifest(spark, p)
        sync_delta_log_from_manifest(spark, p)
        snap = read_delta_snapshot(spark, p)
        assert {r: m["size"] for r, m in snap["files"].items()} == (
            self._manifest_live(spark, p)
        )
        commit0 = os.path.join(p, "_delta_log", f"{0:020d}.json")
        actions = [json.loads(line) for line in open(commit0) if line.strip()]
        meta = [a["metaData"] for a in actions if "metaData" in a][0]
        assert meta["partitionColumns"] == ["split"]
        fields = {f["name"] for f in json.loads(meta["schemaString"])["fields"]}
        # the schema must CONTAIN the partition column it names —
        # a bare file read would omit it (protocol-invalid metadata)
        assert fields == {"id", "split"}
        adds = [a["add"] for a in actions if "add" in a]
        assert adds and all(
            a["partitionValues"].get("split") in ("train", "val") for a in adds
        )

    def test_commit_is_create_exclusive(self, spark, tmp_path):
        """A concurrent writer that lost the race cannot overwrite a
        committed version — the create-exclusive put-if-absent the Delta
        protocol itself relies on."""
        from imitation_learning_data_pipeline_spark.pipeline.delta_log import (
            write_delta_commit,
        )
        from imitation_learning_data_pipeline_spark.pipeline.manifest import (
            write_manifest,
        )
        from imitation_learning_data_pipeline_spark.pipeline.delta_log import (
            sync_delta_log_from_manifest,
        )

        import imitation_learning_data_pipeline_spark.pipeline.delta_log as DL

        p = str(tmp_path / "t4")
        self._mk_table(spark, p, n=10)
        write_manifest(spark, p)
        sync_delta_log_from_manifest(spark, p)
        # simulate an external writer racing us: OUR writer believes the
        # log is still at version -1 (stale read), so it targets version
        # 0 — which already exists. create-exclusive must refuse, never
        # overwrite the committed file.
        committed = os.path.join(p, "_delta_log", f"{0:020d}.json")
        before = open(committed).read()
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(
                DL,
                "read_delta_snapshot",
                lambda *a, **k: {"files": {}, "configuration": {}, "version": -1},
            )
            with pytest.raises(Exception):
                write_delta_commit(
                    spark, p, add=[("x.parquet", 1)], remove=[],
                    schema_json='{"type":"struct","fields":[]}',
                )
        assert open(committed).read() == before

    def test_requires_manifest(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline.delta_log import (
            sync_delta_log_from_manifest,
        )

        p = str(tmp_path / "t5")
        self._mk_table(spark, p, n=5)
        with pytest.raises(ValueError, match="no _manifest"):
            sync_delta_log_from_manifest(spark, p)


class TestPsiBaselineGrowthGate:
    """r11 verdict item 9: the baseline → growth → release-gate CLI
    sequence pinned end to end, plus the new fold_drift_baseline growth
    path (additive union+sum, locked + fenced + journaled — the shared
    staged-swap discipline)."""

    def _scores(self, spark, tmp_path, name, values):
        p = str(tmp_path / name)
        spark.createDataFrame(
            [(i, f"doc {i}", float(v)) for i, v in enumerate(values)],
            "doc_id long, text string, score double",
        ).write.mode("overwrite").parquet(p)
        return p

    def test_cli_baseline_grow_gate_sequence(self, spark, tmp_path, capsys):
        from imitation_learning_data_pipeline_spark.cli import main
        from imitation_learning_data_pipeline_spark.plans.monitor import (
            read_drift_baseline,
        )

        n = 500
        uniform = [((i % 100) + 0.5) / 100 for i in range(n)]
        ref1 = self._scores(spark, tmp_path, "ref1", uniform)
        ref2 = self._scores(spark, tmp_path, "ref2", uniform)
        cur_ok = self._scores(spark, tmp_path, "cur_ok", uniform)
        cur_drift = self._scores(
            spark, tmp_path, "cur_drift", [0.95 + (i % 5) / 100 for i in range(n)]
        )
        base = str(tmp_path / "baseline")
        # 1. bootstrap
        assert main(["psi", "--input", ref1, "--baseline-out", base]) == 0
        assert read_drift_baseline(spark, base).agg({"n": "sum"}).collect()[0][0] == n
        # 2. grow with a second reference batch (fenced)
        assert main([
            "psi", "--input", ref2, "--baseline-out", base,
            "--grow", "--batch-id", "1",
        ]) == 0
        grown = read_drift_baseline(spark, base)
        assert grown.agg({"n": "sum"}).collect()[0][0] == 2 * n
        # 3. an orchestrator RETRY of the same batch is a no-op — counts
        # are sums, so an unfenced replay would double-count
        assert main([
            "psi", "--input", ref2, "--baseline-out", base,
            "--grow", "--batch-id", "1",
        ]) == 0
        assert read_drift_baseline(spark, base).agg(
            {"n": "sum"}
        ).collect()[0][0] == 2 * n
        out_lines = capsys.readouterr().out.strip().splitlines()
        assert json.loads(out_lines[-1])["folded"] is False
        # 4. release-gate over the grown baseline: in-distribution batch
        # passes, drifted batch fails on the psi check
        assert main([
            "release-gate", "--input", cur_ok, "--psi-baseline", base,
        ]) == 0
        assert main([
            "release-gate", "--input", cur_drift, "--psi-baseline", base,
        ]) == 1
        last = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert last["pass"] is False and last["checks"]["psi"]["pass"] is False

    def test_grow_requires_existing_baseline(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.plans.monitor import (
            fold_drift_baseline,
        )

        batch = spark.createDataFrame(
            [(1, 0.5)], "doc_id long, score double"
        )
        with pytest.raises(ValueError, match="no baseline"):
            fold_drift_baseline(batch, str(tmp_path / "absent"))

    def test_fold_crash_converges_and_replay_fences(self, spark, tmp_path):
        """Crash after the journal lands: the next fold completes the
        staged commit (fence included), so the replayed batch folds
        exactly once — sums would double-count otherwise."""
        import imitation_learning_data_pipeline_spark.pipeline.fsio as fsio
        from imitation_learning_data_pipeline_spark.plans.monitor import (
            fold_drift_baseline,
            read_drift_baseline,
            write_drift_baseline,
        )

        base = str(tmp_path / "b2")
        ref = spark.createDataFrame(
            [(i, (i % 10) / 10 + 0.05) for i in range(100)],
            "doc_id long, score double",
        )
        write_drift_baseline(ref.select("score"), base)
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
        out = fold_drift_baseline(batch, base, batch_id=1)
        assert out == {"folded": False}  # recovery committed batch 1
        assert not os.path.exists(base + "__psi_pending.json")
        total = read_drift_baseline(spark, base).agg({"n": "sum"}).collect()[0][0]
        assert total == 150  # folded exactly once

    def test_failed_rebuild_keeps_the_previous_baseline(self, spark, tmp_path):
        """A rebuild whose frame fails mid-write is staged, never swapped
        in: the previous baseline still reads back whole."""
        from pyspark.sql import functions as F

        from imitation_learning_data_pipeline_spark.plans import monitor

        base = str(tmp_path / "b4")
        ref = spark.createDataFrame(
            [(i, (i % 10) / 10 + 0.05) for i in range(100)],
            "doc_id long, score double",
        )
        monitor.write_drift_baseline(ref.select("score"), base)
        real = monitor.drift_bucket_counts

        def failing(*args):
            @F.udf("long")
            def boom(n):
                if n > 0:
                    raise ValueError("injected write failure")
                return n

            return real(*args).withColumn("n", boom("n"))

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(monitor, "drift_bucket_counts", failing)
            with pytest.raises(Exception, match="injected write failure"):
                monitor.write_drift_baseline(ref.select("score"), base)
        baseline = monitor.read_drift_baseline(spark, base)
        assert baseline.agg({"n": "sum"}).collect()[0][0] == 100

    def test_concurrent_fold_raises(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline.compact import (
            ConcurrentMaintenanceError,
        )
        from imitation_learning_data_pipeline_spark.plans.monitor import (
            fold_drift_baseline,
            write_drift_baseline,
        )

        base = str(tmp_path / "b3")
        ref = spark.createDataFrame(
            [(i, (i % 10) / 10 + 0.05) for i in range(50)],
            "doc_id long, score double",
        )
        write_drift_baseline(ref.select("score"), base)
        with open(base + "__maintenance_lock", "w") as fh:
            fh.write('{"op": "psi-fold", "pid": 1}')
        with pytest.raises(ConcurrentMaintenanceError):
            fold_drift_baseline(ref.select("score"), base, batch_id=1)


class TestNormalizeTextSinglePass:
    def test_equivalent_to_two_pass_form(self, spark):
        """r12 scale-sweep fix: normalize_text's one run-matching regex
        must be byte-identical to the historical two-pass form on
        adversarial inputs (punctuation runs, boundary junk, unicode,
        whitespace variants) — the oracles still encode the two-pass
        SQL, so string equality IS the contract."""
        from pyspark.sql import functions as F

        from imitation_learning_data_pipeline_spark.functions.text import (
            normalize_text,
        )

        cases = [
            "Hello, World!",
            "a--b .. c",
            "  leading and trailing  ",
            "tabs\tand\nnewlines\r\nmixed",
            "punct!!!only???",
            "",
            "déjà vu — naïve café",
            "数字123と漢字",
            "a  b   c    d",
            "UPPER lower MiXeD 42",
            "-start and end-",
        ]
        df = spark.createDataFrame([(s,) for s in cases], ["text"])
        two_pass = F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " "), " +", " "
            )
        )
        out = df.select(
            normalize_text("text").alias("new"), two_pass.alias("old")
        ).collect()
        for r in out:
            assert r["new"] == r["old"], (r["new"], r["old"])


class TestDeltaLogCli:
    def test_sync_and_show(self, spark, tmp_path, capsys):
        from imitation_learning_data_pipeline_spark.cli import main
        from imitation_learning_data_pipeline_spark.pipeline.manifest import (
            write_manifest,
        )

        p = str(tmp_path / "t")
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(20)], "id long, s string"
        ).repartition(2).write.mode("overwrite").parquet(p)
        write_manifest(spark, p)
        assert main(["delta-log", "--path", p, "--sync"]) == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["changed"] is True and out["version"] == 0
        assert main(["delta-log", "--path", p]) == 0
        show = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert show["version"] == 0 and show["n_files"] == 2
        assert show["bytes"] > 0 and show["any_dv"] is False


class TestPsiFoldWholesaleParity:
    def test_fold_equals_wholesale_rebuild(self, spark, tmp_path):
        """Growing by fold must equal rebuilding the baseline over the
        concatenated reference — the additivity contract made concrete
        at the STORE level (not just psi_against_baseline's counts)."""
        from imitation_learning_data_pipeline_spark.plans.monitor import (
            fold_drift_baseline,
            read_drift_baseline,
            write_drift_baseline,
        )

        a = spark.createDataFrame(
            [(i, ((i * 7) % 100 + 0.5) / 100) for i in range(300)],
            "doc_id long, score double",
        ).select("score")
        b = spark.createDataFrame(
            [(i, ((i * 13) % 100 + 0.5) / 100) for i in range(200)],
            "doc_id long, score double",
        ).select("score")
        grown = str(tmp_path / "grown")
        write_drift_baseline(a, grown)
        fold_drift_baseline(b, grown, batch_id=1)
        whole = str(tmp_path / "whole")
        write_drift_baseline(a.unionByName(b), whole)
        g = {(r["bucket"], r["n"]) for r in read_drift_baseline(spark, grown).collect()}
        w = {(r["bucket"], r["n"]) for r in read_drift_baseline(spark, whole).collect()}
        assert g == w


class TestHtmlText:
    """Web-ingestion extraction (operators/html_text.py): the oracled
    lib row pins well-formed semantics; these pin the crawl-data
    posture — malformed markup, entities, skipped subtrees, binary
    payloads."""

    def _x(self, html):
        from imitation_learning_data_pipeline_spark.operators.html_text import (
            extract_text,
        )

        return extract_text(html)

    def test_script_style_and_entities(self):
        out = self._x(
            "<html><head><title>T&amp;A</title><style>p{color:red}</style>"
            "</head><body><script>alert('x')</script>"
            "<p>a &lt;b&gt; &amp; c</p><noscript>no</noscript></body></html>"
        )
        assert out["title"] == "T&A"
        assert out["text"] == "a <b> & c"
        assert "alert" not in out["text"] and "color" not in out["text"]
        assert "no" not in out["text"].split()

    def test_block_breaks_and_whitespace(self):
        out = self._x(
            "<div>one</div><div>  two\n\n  three </div><br>four"
        )
        # raw newlines inside data are line breaks too (paragraph-ish
        # breaks in source text survive normalization)
        assert out["text"] == "one\ntwo\nthree\nfour"
        assert out["text_chars"] == len(out["text"])

    def test_links_and_density(self):
        out = self._x(
            '<p><a href="/">home</a> filler <a href="/b">about us</a></p>'
        )
        assert out["n_links"] == 2
        # anchor data is stripped per data-chunk: "about us" is one
        # chunk, so its inner space counts toward link-text mass
        assert out["link_text_chars"] == len("home") + len("about us")
        assert "filler" in out["text"]

    def test_malformed_never_raises(self):
        for bad in [
            "<p>unclosed",
            "<<<>>>",
            "<a <b>>text",
            "</only-end-tags></p>",
            "<script>never closed",
            "",
            None,
        ]:
            out = self._x(bad)
            assert isinstance(out["text"], str)

    def test_unclosed_script_swallows_rest(self):
        # html.parser treats an unclosed <script> as CDATA to EOF —
        # crawl reality; the document extracts empty, it doesn't crash
        assert self._x("<script>var x<p>hi</p>")["text"] == ""

    def test_binary_payload_decoding(self, spark):
        from imitation_learning_data_pipeline_spark.operators.html_text import (
            extract_html_text,
        )

        df = spark.createDataFrame(
            [(1, "<p>café</p>".encode()), (2, b"<p>plain</p>")],
            "doc_id long, html binary",
        )
        rows = {
            r["doc_id"]: r["text"]
            for r in extract_html_text(df).collect()
        }
        assert rows == {1: "café", 2: "plain"}


def _warc_record(
    warc_type: str,
    uri: str,
    payload: bytes,
    content_type: str = "application/http; msgtype=response",
    record_id: str = "<urn:uuid:1>",
) -> bytes:
    head = (
        f"WARC/1.0\r\n"
        f"WARC-Type: {warc_type}\r\n"
        f"WARC-Record-ID: {record_id}\r\n"
        f"WARC-Date: 2026-01-01T00:00:00Z\r\n"
        f"WARC-Target-URI: {uri}\r\n"
        f"Content-Type: {content_type}\r\n"
        f"Content-Length: {len(payload)}\r\n\r\n"
    ).encode()
    return head + payload + b"\r\n\r\n"


def _http_response(body: bytes, ctype: bytes = b"text/html") -> bytes:
    return (
        b"HTTP/1.1 200 OK\r\nContent-Type: " + ctype +
        b"\r\nServer: x\r\n\r\n" + body
    )


class TestWarcSource:
    def _write_warc_gz(self, path, records):
        """Common Crawl framing: each record its own gzip MEMBER."""
        import gzip

        with open(path, "wb") as fh:
            for rec in records:
                fh.write(gzip.compress(rec))

    def test_parse_stream_multi_member_and_http_unwrap(self, tmp_path):
        import gzip
        import io

        from imitation_learning_data_pipeline_spark.sources.warc import (
            parse_warc_stream,
        )

        p = str(tmp_path / "a.warc.gz")
        self._write_warc_gz(
            p,
            [
                _warc_record(
                    "warcinfo", "", b"software: test\r\n",
                    content_type="application/warc-fields",
                ),
                _warc_record(
                    "request", "http://x.test/",
                    b"GET / HTTP/1.1\r\nHost: x.test\r\n\r\n",
                    content_type="application/http; msgtype=request",
                ),
                _warc_record(
                    "response", "http://x.test/",
                    _http_response(b"<p>hello warc</p>"),
                ),
            ],
        )
        with open(p, "rb") as fh:
            recs = list(parse_warc_stream(gzip.GzipFile(fileobj=fh), p))
        assert [r["warc_type"] for r in recs] == [
            "warcinfo", "request", "response",
        ]
        resp = recs[2]
        assert resp["http_status"] == 200
        assert resp["content_type"].startswith("text/html")
        assert resp["payload"] == b"<p>hello warc</p>"
        assert resp["target_uri"] == "http://x.test/"

    def test_truncated_record_refused(self, tmp_path):
        import io

        from imitation_learning_data_pipeline_spark.sources.warc import (
            WarcFormatError,
            parse_warc_stream,
        )

        rec = _warc_record("response", "http://x/", _http_response(b"body"))
        truncated = rec[: len(rec) - 10]
        with pytest.raises(WarcFormatError, match="truncated"):
            list(parse_warc_stream(io.BytesIO(truncated), "t"))
        with pytest.raises(WarcFormatError, match="expected WARC"):
            list(parse_warc_stream(io.BytesIO(b"not a warc\r\n"), "t"))

    def test_read_warc_to_extraction_end_to_end(self, spark, tmp_path):
        """The composed ingestion front door: read_warc (binaryFile +
        mapInPandas) → extract_html_text → quality signals, over a
        two-file corpus with non-response records filtered out."""
        from pyspark.sql import functions as F

        from imitation_learning_data_pipeline_spark.operators.html_text import (
            extract_html_text,
        )
        from imitation_learning_data_pipeline_spark.sources.warc import read_warc

        d = tmp_path / "crawl"
        d.mkdir()
        self._write_warc_gz(
            str(d / "seg0.warc.gz"),
            [
                _warc_record(
                    "warcinfo", "", b"x: y\r\n",
                    content_type="application/warc-fields",
                ),
                _warc_record(
                    "response", "http://a.test/",
                    _http_response(
                        b"<html><title>A</title><body><p>alpha page"
                        b"</p></body></html>"
                    ),
                ),
            ],
        )
        self._write_warc_gz(
            str(d / "seg1.warc.gz"),
            [
                _warc_record(
                    "response", "http://b.test/",
                    _http_response(b"<p>beta <a href='/'>link</a></p>"),
                ),
            ],
        )
        recs = read_warc(spark, str(d))
        assert recs.count() == 2  # warcinfo filtered by default
        pages = recs.select(
            F.monotonically_increasing_id().alias("doc_id"),
            F.col("payload").alias("html"),
            "target_uri",
        )
        out = extract_html_text(pages, html_col="html")
        texts = {r["text"] for r in out.collect()}
        assert texts == {"alpha page", "beta link"}
        # non-gz WARC also reads
        raw = d / "plain.warc"
        raw.write_bytes(
            _warc_record("response", "http://c.test/", _http_response(b"<p>c</p>"))
        )
        assert read_warc(spark, str(d)).count() == 3


class TestIngestWarcCli:
    def test_warc_to_documents_parquet(self, spark, tmp_path, capsys):
        from imitation_learning_data_pipeline_spark.cli import main

        d = tmp_path / "crawl"
        d.mkdir()
        import gzip

        def w(path, recs):
            with open(path, "wb") as fh:
                for r in recs:
                    fh.write(gzip.compress(r))

        w(
            str(d / "s0.warc.gz"),
            [
                _warc_record(
                    "response", "http://a.test/",
                    _http_response(b"<html><title>A</title><p>real content "
                                   b"page words</p></html>"),
                ),
                _warc_record(
                    "response", "http://nav.test/",
                    _http_response(
                        b"<p><a href='/a'>one</a> <a href='/b'>two</a> "
                        b"<a href='/c'>three</a> x</p>"
                    ),
                ),
                _warc_record(
                    "response", "http://png.test/",
                    _http_response(b"\x89PNG...", ctype=b"image/png"),
                ),
            ],
        )
        out = str(tmp_path / "docs")
        assert main([
            "ingest-warc", "--input", str(d), "--out", out,
            "--max-link-density", "0.5",
        ]) == 0
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rep["docs"] == 1  # png filtered by type, nav by density
        row = spark.read.parquet(out).collect()[0]
        assert row["title"] == "A" and row["url"] == "http://a.test/"
        assert row["text"] == "real content page words"
        assert row["link_density"] == 0.0
        # reproducible ids: a second run lands identical doc_ids
        out2 = str(tmp_path / "docs2")
        main(["ingest-warc", "--input", str(d), "--out", out2,
              "--max-link-density", "0.5"])
        assert (
            spark.read.parquet(out).select("doc_id").collect()
            == spark.read.parquet(out2).select("doc_id").collect()
        )


class TestHtmlCharsetSniffing:
    """decode_html: the WHATWG sniffing order minus statistical
    guessing — BOM > HTTP charset > <meta charset> prescan > UTF-8,
    always errors=replace."""

    def test_bom_wins(self):
        from imitation_learning_data_pipeline_spark.operators.html_text import (
            decode_html,
        )

        assert decode_html("<p>é</p>".encode("utf-8-sig")) == "<p>é</p>"
        assert decode_html("<p>é</p>".encode("utf-16")) == "<p>é</p>"

    def test_declared_then_meta_then_utf8(self):
        from imitation_learning_data_pipeline_spark.operators.html_text import (
            decode_html,
        )

        latin = "<p>café naïve</p>".encode("latin-1")
        assert "café" in decode_html(latin, "ISO-8859-1")
        meta = (
            b'<html><head><meta charset="windows-1252"></head>'
            b"<body><p>caf\xe9</p></body></html>"
        )
        assert "caf\xe9" in decode_html(meta)
        # unknown declared label falls through to meta, then utf-8
        assert "caf\xe9" in decode_html(meta, "x-bogus-charset")
        # plain utf-8, nothing declared
        assert "日本語" in decode_html("<p>日本語</p>".encode())

    def test_http_charset_param_parse(self):
        from imitation_learning_data_pipeline_spark.operators.html_text import (
            _charset_from_content_type,
        )

        assert _charset_from_content_type("text/html; charset=ISO-8859-1") == (
            "ISO-8859-1"
        )
        assert _charset_from_content_type('text/html; charset="utf-8"; x=1') == (
            "utf-8"
        )
        assert _charset_from_content_type("text/html") is None
        assert _charset_from_content_type(None) is None

    def test_end_to_end_latin1_page(self, spark):
        from imitation_learning_data_pipeline_spark.operators.html_text import (
            extract_html_text,
        )

        df = spark.createDataFrame(
            [
                (1, "<p>café</p>".encode("latin-1"),
                 "text/html; charset=ISO-8859-1"),
                (2, b"<p>plain</p>", "text/html"),
            ],
            "doc_id long, html binary, content_type string",
        )
        rows = {
            r["doc_id"]: r["text"]
            for r in extract_html_text(
                df, content_type_col="content_type"
            ).collect()
        }
        assert rows == {1: "café", 2: "plain"}


class TestWarcWetAndUrlDedup:
    def test_wet_conversion_records(self, spark, tmp_path):
        """Common Crawl WET files are WARC-framed `conversion` records
        carrying pre-extracted text/plain — the same parser reads them
        with a record_types override."""
        import gzip

        from imitation_learning_data_pipeline_spark.sources.warc import read_warc

        d = tmp_path / "wet"
        d.mkdir()
        with open(str(d / "s0.warc.wet.gz"), "wb") as fh:
            fh.write(
                gzip.compress(
                    _warc_record(
                        "conversion", "http://a.test/",
                        b"already extracted plain text",
                        content_type="text/plain",
                    )
                )
            )
        recs = read_warc(spark, str(d), record_types=("conversion",))
        rows = recs.collect()
        assert len(rows) == 1
        assert bytes(rows[0]["payload"]) == b"already extracted plain text"
        assert rows[0]["content_type"] == "text/plain"
        # default (response-only) sees nothing in a WET file
        assert read_warc(spark, str(d)).count() == 0

    def test_ingest_dedup_url(self, spark, tmp_path, capsys):
        import gzip

        from imitation_learning_data_pipeline_spark.cli import main

        d = tmp_path / "crawl"
        d.mkdir()
        recs = [
            _warc_record(
                "response", "http://a.test/",
                _http_response(b"<p>first fetch</p>"),
            ),
            _warc_record(
                "response", "http://a.test/",
                _http_response(b"<p>second fetch</p>"),
            ),
            _warc_record(
                "response", "http://b.test/",
                _http_response(b"<p>other page</p>"),
            ),
        ]
        with open(str(d / "s0.warc.gz"), "wb") as fh:
            for r in recs:
                fh.write(gzip.compress(r))
        out = str(tmp_path / "docs")
        assert main(
            ["ingest-warc", "--input", str(d), "--out", out, "--dedup-url"]
        ) == 0
        rows = spark.read.parquet(out).collect()
        assert len(rows) == 2
        assert {r["url"] for r in rows} == {"http://a.test/", "http://b.test/"}


class TestDeltaLogPathEncoding:
    def test_literal_percent_in_rel_roundtrips(self, spark, tmp_path):
        """Spec: action paths are URL-encoded and readers decode them.
        An on-disk rel containing a URL-special char (a space here)
        must round-trip writer->reader, and a
        second sync must converge instead of emitting spurious
        add+remove forever."""
        import shutil

        from imitation_learning_data_pipeline_spark.pipeline.delta_log import (
            read_delta_snapshot,
            sync_delta_log_from_manifest,
        )
        from imitation_learning_data_pipeline_spark.pipeline.manifest import (
            write_manifest,
        )

        p = str(tmp_path / "t")
        spark.createDataFrame(
            [(i, "pt BR") for i in range(10)], "id long, lang string"
        ).coalesce(1).write.mode("overwrite").partitionBy("lang").parquet(p)
        # the dir name carries a LITERAL space on this layout
        assert any(d == "lang=pt BR" for d in os.listdir(p)), os.listdir(p)
        write_manifest(spark, p)
        out = sync_delta_log_from_manifest(spark, p)
        assert out["changed"] and out["version"] == 0
        snap = read_delta_snapshot(spark, p)
        rels = set(snap["files"])
        # reader decodes back to the literal on-disk rel
        assert all("lang=pt BR/" in r for r in rels), rels
        # the JSON on disk carries the URL-ENCODED form
        commit0 = open(os.path.join(p, "_delta_log", f"{0:020d}.json")).read()
        assert "lang=pt%20BR" in commit0 and "lang=pt BR" not in commit0
        # convergence: nothing further to commit
        again = sync_delta_log_from_manifest(spark, p)
        assert again["changed"] is False and again["version"] == 0


class TestWarcHttpBodyCodings:
    """Real crawls record transfer/content codings verbatim — the HTTP
    unwrap must undo them or the corpus ingests compressed bytes as
    'text' (r12 review finding)."""

    def _roundtrip(self, http_msg: bytes):
        import io

        from imitation_learning_data_pipeline_spark.sources.warc import (
            parse_warc_stream,
        )

        rec = _warc_record("response", "http://x/", http_msg)
        return list(parse_warc_stream(io.BytesIO(rec), "t"))[0]

    def test_gzip_content_encoding(self):
        import gzip

        body = gzip.compress(b"<p>compressed page</p>")
        msg = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            b"Content-Encoding: gzip\r\n\r\n" + body
        )
        assert self._roundtrip(msg)["payload"] == b"<p>compressed page</p>"

    def test_deflate_both_forms(self):
        import zlib

        co = zlib.compressobj(wbits=-15)
        raw_deflate = co.compress(b"<p>z</p>") + co.flush()
        for raw in (zlib.compress(b"<p>z</p>"), raw_deflate):
            msg = (
                b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                b"Content-Encoding: deflate\r\n\r\n" + raw
            )
            assert self._roundtrip(msg)["payload"] == b"<p>z</p>"

    def test_chunked_transfer_encoding(self):
        msg = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            b"Transfer-Encoding: chunked\r\n\r\n"
            b"5\r\n<p>he\r\n7\r\nllo</p>\r\n0\r\n\r\n"
        )
        assert self._roundtrip(msg)["payload"] == b"<p>hello</p>"

    def test_chunked_then_gzip(self):
        import gzip

        gz = gzip.compress(b"<p>both</p>")
        chunked = (
            hex(len(gz))[2:].encode() + b"\r\n" + gz + b"\r\n0\r\n\r\n"
        )
        msg = (
            b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n"
            b"Content-Encoding: gzip\r\n\r\n" + chunked
        )
        assert self._roundtrip(msg)["payload"] == b"<p>both</p>"

    def test_mislabeled_coding_kept_raw(self):
        """A header claiming gzip over plain bytes is common in the
        wild — keep RAW (quality gates score the page out) instead of
        killing the task over one mislabeled page."""
        msg = (
            b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n"
            b"<p>actually plain</p>"
        )
        assert self._roundtrip(msg)["payload"] == b"<p>actually plain</p>"


class TestHtmlSkippedSubtreeLinks:
    def test_noscript_nav_does_not_inflate_n_links(self):
        from imitation_learning_data_pipeline_spark.operators.html_text import (
            extract_text,
        )

        out = extract_text(
            '<p><a href="/">visible</a></p>'
            '<noscript><a href="/">dup</a><a href="/b">dup2</a></noscript>'
        )
        assert out["n_links"] == 1
        assert out["link_text_chars"] == len("visible")
        assert "dup" not in out["text"]

    def test_string_id_column(self, spark):
        from imitation_learning_data_pipeline_spark.operators.html_text import (
            extract_html_text,
        )

        df = spark.createDataFrame(
            [("<urn:a>", b"<p>x</p>")], "record_id string, html binary"
        )
        rows = extract_html_text(df, id_col="record_id").collect()
        assert rows[0]["record_id"] == "<urn:a>" and rows[0]["text"] == "x"


class TestIngestDedupUrlEmpty:
    def test_empty_urls_do_not_collapse(self, spark, tmp_path, capsys):
        import gzip

        from imitation_learning_data_pipeline_spark.cli import main

        d = tmp_path / "crawl"
        d.mkdir()
        recs = [
            _warc_record("response", "", _http_response(b"<p>no uri one</p>")),
            _warc_record("response", "", _http_response(b"<p>no uri two</p>")),
            _warc_record(
                "response", "http://a/", _http_response(b"<p>a1</p>")
            ),
            _warc_record(
                "response", "http://a/", _http_response(b"<p>a2</p>")
            ),
        ]
        with open(str(d / "s.warc.gz"), "wb") as fh:
            for r in recs:
                fh.write(gzip.compress(r))
        out = str(tmp_path / "docs")
        assert main(
            ["ingest-warc", "--input", str(d), "--out", out, "--dedup-url"]
        ) == 0
        rows = spark.read.parquet(out).collect()
        # http://a/ deduped to one; BOTH url-less pages survive
        assert len(rows) == 3
        assert sorted(r["text"] for r in rows if r["url"] == "") == [
            "no uri one", "no uri two",
        ]
