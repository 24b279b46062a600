"""Round-9 incremental materialized views (pipeline/matview.py):
bootstrap equality, refresh cost ∝ new files (inputFiles-asserted),
base-mutation honesty, crash-window replay fencing, quantile state."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from imitation_learning_data_pipeline_spark.pipeline.matview import (
    BaseMutatedError,
    create_matview,
    read_matview,
    rebuild_matview,
    refresh_matview,
)
from imitation_learning_data_pipeline_spark.pipeline.merge import insert_into


def _rows(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.concat(F.lit("doc-"), F.col("id")).alias("doc_id"),
        (F.col("id") % 4).alias("grp"),
        (F.col("id") % 100 / 2.0).alias("v"),
    )


@pytest.fixture()
def mv(spark, tmp_path):
    base = str(tmp_path / "base")
    path = str(tmp_path / "mv")
    _rows(spark, 0, 4000).repartition(4).write.parquet(base)
    create_matview(
        spark,
        base,
        path,
        ["grp"],
        ["v"],
        quantile_cols={"v": (0.0, 50.0)},
        n_bins=25,
    )
    return base, path


def _expected(spark, base):
    return {
        r["grp"]: (r["n"], round(r["s"], 6))
        for r in spark.read.parquet(base)
        .groupBy("grp")
        .agg(F.count("v").alias("n"), F.sum("v").alias("s"))
        .collect()
    }


def _got(spark, path):
    return {
        r["grp"]: (r["v_n"], round(r["v_sum"], 6))
        for r in read_matview(spark, path).collect()
    }


class TestMatview:
    def test_bootstrap_matches_direct_aggregate(self, spark, mv):
        base, path = mv
        assert _got(spark, path) == _expected(spark, base)
        # quantile state is live too
        row = read_matview(spark, path).first()
        assert row["v_p50"] is not None and 0 <= row["v_p50"] <= 50

    def test_refresh_folds_only_new_files(self, spark, mv):
        base, path = mv
        insert_into(spark, base, _rows(spark, 4000, 5000))
        r = refresh_matview(spark, path)
        assert r["files_new"] >= 1 and not r["rebuilt"]
        assert _got(spark, path) == _expected(spark, base)

    def test_refresh_reads_only_new_bytes(self, spark, mv):
        """The incremental claim itself: the refresh's partials job must
        touch ONLY the appended files."""
        from imitation_learning_data_pipeline_spark.pipeline import matview as m

        base, path = mv
        import os

        before = set(os.listdir(base))
        insert_into(spark, base, _rows(spark, 4000, 4100))
        new_files = {
            f
            for f in os.listdir(base)
            if f.endswith(".parquet") and f not in before
        }
        seen = {}
        orig = m._partials

        def spy(spark_, spec, df):
            seen["files"] = {p.rsplit("/", 1)[-1] for p in df.inputFiles()}
            return orig(spark_, spec, df)

        m._partials = spy
        try:
            refresh_matview(spark, path)
        finally:
            m._partials = orig
        assert seen["files"] == new_files

    def test_noop_refresh(self, spark, mv):
        base, path = mv
        r1 = refresh_matview(spark, path)
        assert r1["files_new"] == 0
        assert _got(spark, path) == _expected(spark, base)

    def test_base_mutation_detected(self, spark, mv):
        from imitation_learning_data_pipeline_spark.pipeline.merge import (
            delete_from,
        )

        base, path = mv
        delete_from(spark, base, "grp = 1")  # COW rewrite of base files
        with pytest.raises(BaseMutatedError):
            refresh_matview(spark, path)
        r = refresh_matview(spark, path, on_base_mutation="rebuild")
        assert r["rebuilt"]
        assert _got(spark, path) == _expected(spark, base)
        assert 1 not in _got(spark, path)

    def test_cli_roundtrip(self, spark, tmp_path, capsys):
        import json

        from imitation_learning_data_pipeline_spark.cli import main

        base = str(tmp_path / "cbase")
        path = str(tmp_path / "cmv")
        _rows(spark, 0, 1000).write.parquet(base)
        rc = main(
            [
                "matview",
                "--path",
                path,
                "--create",
                "--base",
                base,
                "--group",
                "grp",
                "--metrics",
                "v",
            ]
        )
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rc == 0 and out["files_processed"] >= 1
        insert_into(spark, base, _rows(spark, 1000, 1200))
        rc = main(["matview", "--path", path, "--refresh"])
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rc == 0 and out["files_new"] >= 1
        rc = main(["matview", "--path", path])
        rows = [
            json.loads(line)
            for line in capsys.readouterr().out.strip().splitlines()
        ]
        assert rc == 0 and len(rows) == 4
        assert sum(r["v_n"] for r in rows) == 1200

    def test_base_with_live_dvs_refused(self, spark, mv, tmp_path):
        """MOR deletes touch no files, so the file diff can't see them —
        the view would aggregate deleted rows forever. All three entry
        points must refuse until the base is purged."""
        from imitation_learning_data_pipeline_spark.pipeline.deletes import (
            delete_from_mor,
            purge_deletes,
        )
        from imitation_learning_data_pipeline_spark.pipeline.matview import (
            create_matview,
            rebuild_matview,
        )

        base, path = mv
        delete_from_mor(spark, base, "grp = 2")
        with pytest.raises(BaseMutatedError, match="deletion vectors"):
            refresh_matview(spark, path)
        with pytest.raises(BaseMutatedError, match="deletion vectors"):
            rebuild_matview(spark, path)
        with pytest.raises(BaseMutatedError, match="deletion vectors"):
            create_matview(
                spark, base, str(tmp_path / "mv2"), ["grp"], ["v"]
            )
        # purge resolves the DVs to a rewrite → the mutation detector
        # takes over, and rebuild restores exactness
        purge_deletes(spark, base)
        with pytest.raises(BaseMutatedError, match="rewritten or removed"):
            refresh_matview(spark, path)
        r = refresh_matview(spark, path, on_base_mutation="rebuild")
        assert r["rebuilt"]
        assert _got(spark, path) == _expected(spark, base)

    def test_crash_between_fold_and_state_is_fenced(self, spark, mv):
        """Fold committed, final state write crashed: the replayed
        refresh re-folds the PENDING list under the same batch_id — the
        store fence must make it a no-op, not a double-count. (Write #1
        is the pending-intent journal, #2 the post-fold advance.)"""
        from imitation_learning_data_pipeline_spark.pipeline import matview as m

        base, path = mv
        insert_into(spark, base, _rows(spark, 4000, 4500))
        orig = m._write_state
        calls = {"n": 0}

        def crash_post_fold(spark_, mv_path_, state_):
            calls["n"] += 1
            if calls["n"] == 2:
                raise RuntimeError("injected crash before state commit")
            return orig(spark_, mv_path_, state_)

        m._write_state = crash_post_fold
        try:
            with pytest.raises(RuntimeError, match="injected crash"):
                refresh_matview(spark, path)
        finally:
            m._write_state = orig
        # replay: same pending files, same batch_id → fenced fold,
        # state finally advances, totals exact
        r = refresh_matview(spark, path)
        assert r["files_new"] >= 1
        assert _got(spark, path) == _expected(spark, base)
        # and a third refresh is a clean no-op
        assert refresh_matview(spark, path)["files_new"] == 0

    def test_crash_before_fold_replays_clean(self, spark, mv):
        """Crash ON the pending-intent write (before any fold): no
        store mutation happened, the retry must fold once, exactly."""
        from imitation_learning_data_pipeline_spark.pipeline import matview as m

        base, path = mv
        insert_into(spark, base, _rows(spark, 4000, 4300))
        orig = m._write_state
        calls = {"n": 0}

        def crash_on_intent(spark_, mv_path_, state_):
            calls["n"] += 1
            if calls["n"] == 1:
                raise RuntimeError("injected crash on intent write")
            return orig(spark_, mv_path_, state_)

        m._write_state = crash_on_intent
        try:
            with pytest.raises(RuntimeError, match="injected crash"):
                refresh_matview(spark, path)
        finally:
            m._write_state = orig
        assert refresh_matview(spark, path)["files_new"] >= 1
        assert _got(spark, path) == _expected(spark, base)

    def test_crash_then_base_grows_loses_no_files(self, spark, mv):
        """THE r9 hole (ADVICE high): fold committed, state crashed,
        base GREW before the retry. The old code re-diffed everything
        under the same batch_id, the fence no-op'd the fold, and the
        fresh files were marked processed without ever being folded.
        The pending journal must replay exactly the crashed list, then
        fold the growth under the NEXT batch_id."""
        from imitation_learning_data_pipeline_spark.pipeline import matview as m

        base, path = mv
        insert_into(spark, base, _rows(spark, 4000, 4500))
        orig = m._write_state
        calls = {"n": 0}

        def crash_post_fold(spark_, mv_path_, state_):
            calls["n"] += 1
            if calls["n"] == 2:
                raise RuntimeError("injected crash before state commit")
            return orig(spark_, mv_path_, state_)

        m._write_state = crash_post_fold
        try:
            with pytest.raises(RuntimeError, match="injected crash"):
                refresh_matview(spark, path)
        finally:
            m._write_state = orig
        # the base grows BETWEEN crash and retry
        insert_into(spark, base, _rows(spark, 4500, 5000))
        r = refresh_matview(spark, path)
        assert r["files_new"] >= 2  # replayed pending + fresh growth
        assert _got(spark, path) == _expected(spark, base)
        assert refresh_matview(spark, path)["files_new"] == 0

    def test_state_commit_never_leaves_no_state(self, spark, mv):
        """The r9 state-commit window: delete-then-rename could crash
        with NO state file, bricking the view. Versioned commits rename
        to a fresh name — a crash after the rename but before cleanup
        leaves BOTH versions, and max-seq resolution picks the new one;
        a crash before the rename leaves the old one."""
        from imitation_learning_data_pipeline_spark.pipeline import matview as m

        base, path = mv
        fs, _ = m._fs(spark, path)
        jvm_path = m._jvm_path(spark)
        # baseline: exactly one versioned state file after create
        vs = m._state_versions(fs, jvm_path, path)
        assert len(vs) == 1 and vs[0][0] >= 0
        s0 = m._read_state(spark, path)
        # simulate "crash before cleanup": write a NEWER version by
        # hand without deleting the old one
        newer = {**s0, "refresh_seq": int(s0["refresh_seq"]) + 7}
        seq = vs[-1][0] + 1
        stream = fs.create(jvm_path(f"{path}/{m._STATE_PREFIX}{seq}.json"), True)
        stream.write(bytearray(__import__("json").dumps(newer).encode()))
        stream.close()
        assert m._read_state(spark, path)["refresh_seq"] == newer["refresh_seq"]
        # the next real commit collects the stale versions
        m._write_state(spark, path, s0)
        assert len(m._state_versions(fs, jvm_path, path)) == 1
        # legacy single-file stores still read (seq −1 fallback)
        for _, name in m._state_versions(fs, jvm_path, path):
            fs.rename(
                jvm_path(f"{path}/{name}"), jvm_path(f"{path}/{m._STATE}")
            )
        assert m._read_state(spark, path)["refresh_seq"] == s0["refresh_seq"]
        # and the first versioned commit supersedes + removes the legacy
        m._write_state(spark, path, s0)
        vs = m._state_versions(fs, jvm_path, path)
        assert [v for v, _ in vs] == [0]

    def test_rebuild_crash_between_renames_restores(self, spark, mv):
        """Whole-dir swap window: the live store is dropped, then the
        crash hits before the staged store is renamed in. The swap's
        journal landed first, so every entry point finishes the swap
        instead of reading a missing view."""
        from imitation_learning_data_pipeline_spark.pipeline import fsio
        from imitation_learning_data_pipeline_spark.pipeline import matview as m

        base, path = mv
        expected = _got(spark, path)
        fs, _ = m._fs(spark, path)
        jvm_path = m._jvm_path(spark)
        pending = jvm_path(m._rebuild_pending(path))

        def drop_then_crash(fs_, jvm_path_, live, tmp):
            fsio._rm(fs_, jvm_path_, live)
            raise RuntimeError("injected crash")

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(fsio, "_swap_in", drop_then_crash)
            with pytest.raises(RuntimeError, match="injected crash"):
                rebuild_matview(spark, path)
        assert not fs.exists(jvm_path(path))
        assert fs.exists(pending)
        # read path repairs lock-free (no writer is live)
        assert _got(spark, path) == expected
        assert fs.exists(jvm_path(path))
        assert not fs.exists(pending)
        assert not fs.exists(jvm_path(m._rebuild_tmp(path)))
        # post-swap window: journal present, staged dir gone → the swap
        # completed and recovery only clears the journal
        stream = fs.create(pending, True)
        stream.write(bytearray(b"{}"))
        stream.close()
        assert refresh_matview(spark, path)["files_new"] == 0
        assert not fs.exists(pending)

    def test_rebuild_crash_after_journal_before_swap(self, spark, mv):
        """Crash after the rebuild's swap journal landed (the commit
        point) but before the live store was touched: the next entry
        point finishes the swap, so the rebuilt store and its state —
        not the pre-rebuild ones — are what the view serves."""
        from imitation_learning_data_pipeline_spark.pipeline import fsio
        from imitation_learning_data_pipeline_spark.pipeline import matview as m

        base, path = mv
        expected = _got(spark, path)
        seq = int(m._read_state(spark, path)["refresh_seq"])
        fs, _ = m._fs(spark, path)
        jvm_path = m._jvm_path(spark)

        def boom(*a, **k):
            raise RuntimeError("injected crash")

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(fsio, "_swap_in", boom)
            with pytest.raises(RuntimeError, match="injected crash"):
                rebuild_matview(spark, path)
        # the live store is untouched and still names the old sequence
        assert int(m._read_state(spark, path)["refresh_seq"]) == seq
        assert fs.exists(jvm_path(m._rebuild_pending(path)))
        r = refresh_matview(spark, path)
        assert r["files_new"] == 0 and r["refresh_seq"] == seq + 1
        assert not fs.exists(jvm_path(m._rebuild_pending(path)))
        assert not fs.exists(jvm_path(m._rebuild_tmp(path)))
        assert _got(spark, path) == expected

    def test_concurrent_refresh_refused(self, spark, mv):
        """Two refreshes must serialize on the view-level lock; a held
        lock refuses the second writer instead of double-folding."""
        from imitation_learning_data_pipeline_spark.pipeline import matview as m
        from imitation_learning_data_pipeline_spark.pipeline.compact import (
            ConcurrentMaintenanceError,
            _lock_path,
        )

        base, path = mv
        fs, _ = m._fs(spark, path)
        jvm_path = m._jvm_path(spark)
        lock = jvm_path(_lock_path(m._refresh_lock_base(path)))
        stream = fs.create(lock, False)
        stream.write(bytearray(b"{}"))
        stream.close()
        try:
            with pytest.raises(ConcurrentMaintenanceError):
                refresh_matview(spark, path)
        finally:
            fs.delete(lock, False)
        assert refresh_matview(spark, path)["files_new"] == 0
