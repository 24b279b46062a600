"""Round-9 crash-window hardening (ADVICE r8): fault-injection tests
for the rollup fold journal, recover_rollup_fold takeover, read_rollup
under a held lock, _preserve_history failure modes, compact's
path-absent stranded-old restore, and create_snapshot journal
awareness. Every test hand-builds or injects the crash state the way
the merge-journal tests do (tests/test_round6b_ops.py), then asserts
the next consumer converges to the committed state exactly once."""

from __future__ import annotations

import json
import os
import shutil

import pytest

import imitation_learning_data_pipeline_spark.pipeline.fsio as fsio
import imitation_learning_data_pipeline_spark.plans.rollup as R
from imitation_learning_data_pipeline_spark.pipeline.compact import (
    ConcurrentMaintenanceError,
)
from imitation_learning_data_pipeline_spark.plans.rollup import (
    fold_rollup_into_store,
    read_rollup,
    recover_rollup_fold,
    rollup_partials,
    write_rollup_store,
)

PENDING = "__rollup_pending.json"


def _base_rows():
    return [(g, float(v)) for g in ("a", "b") for v in range(5)]


def _batch_rows():
    return [(g, float(v)) for g in ("a", "c") for v in (10, 20)]


def _mk_store(spark, p):
    df = spark.createDataFrame(_base_rows(), ["g", "x"])
    write_rollup_store(rollup_partials(df, ["g"], ["x"]), p, n_buckets=4)


def _batch_partials(spark):
    df = spark.createDataFrame(_batch_rows(), ["g", "x"])
    return rollup_partials(df, ["g"], ["x"])


def _state(spark, p):
    """{group: (n_rows, x__sum)} of the store's current merged state."""
    rows = read_rollup(spark, p, finalize=False).collect()
    return {r["g"]: (r["n_rows"], r["x__sum"]) for r in rows}


# the single-fold truth: base ∪ batch folded exactly once
EXPECT_ONCE = {
    "a": (7, 0.0 + 1 + 2 + 3 + 4 + 10 + 20),
    "b": (5, 0.0 + 1 + 2 + 3 + 4),
    "c": (2, 30.0),
}


def _crash_fold(spark, p, partials, where: str, batch_id=1):
    """Run a fold that dies at the named commit step, leaving the
    journaled crash state on disk (lock released — the fold's finally
    ran, as it does for any soft failure). ``before_moves``: the journal
    landed, nothing moved in; ``after_moves``: staged files moved in,
    replaced files not yet dropped; ``_advance_fence``: moves and drops
    done, fence not yet advanced."""
    with pytest.MonkeyPatch.context() as mp:

        def boom(*a, **k):
            raise RuntimeError("injected crash")

        move = fsio._move_staged_in

        def move_then_boom(*a, **k):
            move(*a, **k)
            boom()

        if where == "before_moves":
            mp.setattr(fsio, "_move_staged_in", boom)
        elif where == "after_moves":
            mp.setattr(fsio, "_move_staged_in", move_then_boom)
        else:
            mp.setattr(R, where, boom)
        with pytest.raises(RuntimeError, match="injected crash"):
            fold_rollup_into_store(spark, p, partials, batch_id=batch_id)
    assert os.path.exists(os.path.join(p, PENDING))


class TestRollupFoldCrashRecovery:
    def test_replay_after_crash_before_moves_is_noop(self, spark, tmp_path):
        """Crash AFTER the journal lands but BEFORE any file moves: the
        journal is the commit point, so the next fold completes it
        (moves + deletes + fence) and the replayed batch_id is then
        correctly fenced — folded exactly once, not twice."""
        p = str(tmp_path / "s1")
        _mk_store(spark, p)
        parts = _batch_partials(spark)
        _crash_fold(spark, p, parts, "before_moves", batch_id=1)
        out = fold_rollup_into_store(spark, p, parts, batch_id=1)
        assert out == {"folded": False, "touched_buckets": 0}
        assert not os.path.exists(os.path.join(p, PENDING))
        assert not os.path.exists(p + "__fold_tmp")
        assert _state(spark, p) == EXPECT_ONCE

    def test_replay_after_crash_before_fence_is_noop(self, spark, tmp_path):
        """Crash AFTER moves+deletes but BEFORE the fence write — the
        r7 double-fold window. The journal carries the batch_id, so
        recovery advances the fence and the replay is a no-op."""
        p = str(tmp_path / "s2")
        _mk_store(spark, p)
        parts = _batch_partials(spark)
        _crash_fold(spark, p, parts, "_advance_fence", batch_id=1)
        out = fold_rollup_into_store(spark, p, parts, batch_id=1)
        assert out == {"folded": False, "touched_buckets": 0}
        assert _state(spark, p) == EXPECT_ONCE
        # fence advanced exactly once, to the journaled batch
        assert R._read_meta(spark, p)["last_batch"] == 1

    def test_read_rollup_completes_crashed_commit(self, spark, tmp_path):
        """A bare read after the crash finishes the journaled commit —
        no torn duplicate-partial state is ever observable."""
        p = str(tmp_path / "s3")
        _mk_store(spark, p)
        _crash_fold(spark, p, _batch_partials(spark), "before_moves")
        assert _state(spark, p) == EXPECT_ONCE
        assert not os.path.exists(os.path.join(p, PENDING))

    def test_compact_completes_crashed_commit(self, spark, tmp_path):
        """compact_rollup_store on a crashed store recovers first, then
        compacts the recovered (single-fold) state."""
        from imitation_learning_data_pipeline_spark.plans.rollup import (
            compact_rollup_store,
        )

        p = str(tmp_path / "s4")
        _mk_store(spark, p)
        _crash_fold(spark, p, _batch_partials(spark), "after_moves")
        out = compact_rollup_store(spark, p)
        assert out["n_groups"] == 3
        assert _state(spark, p) == EXPECT_ONCE
        assert not os.path.exists(os.path.join(p, PENDING))

    def test_recover_standalone_and_stale_lock_takeover(self, spark, tmp_path):
        """A HARD crash strands the lock file too. recover_rollup_fold
        refuses by default and takes over with stale_lock_s — the same
        contract as merge/compact (ADVICE r8 item 1)."""
        p = str(tmp_path / "s5")
        _mk_store(spark, p)
        _crash_fold(spark, p, _batch_partials(spark), "_advance_fence")
        lock = p + "__maintenance_lock"
        with open(lock, "w") as fh:
            fh.write('{"op": "rollup-fold", "pid": 1}')
        os.utime(lock, (1_000_000, 1_000_000))  # ancient mtime
        with pytest.raises(ConcurrentMaintenanceError):
            recover_rollup_fold(spark, p)
        assert recover_rollup_fold(spark, p, stale_lock_s=3600) is True
        assert not os.path.exists(lock)
        assert not os.path.exists(os.path.join(p, PENDING))
        assert _state(spark, p) == EXPECT_ONCE
        # a second recover finds nothing to do
        assert recover_rollup_fold(spark, p) is False

    def test_read_under_held_lock_raises_clear_error(self, spark, tmp_path):
        """Journal present + lock held by a (fresh, apparently live)
        holder that never finishes: read_rollup waits out the commit
        window, then raises with takeover guidance instead of the bare
        lock-conflict error (ADVICE r8 item 1)."""
        p = str(tmp_path / "s6")
        _mk_store(spark, p)
        _crash_fold(spark, p, _batch_partials(spark), "before_moves")
        with open(p + "__maintenance_lock", "w") as fh:
            fh.write('{"op": "rollup-fold", "pid": 1}')  # fresh mtime
        with pytest.raises(ConcurrentMaintenanceError, match="pending fold"):
            read_rollup(spark, p)  # ~5 s of waiting out the "live" holder
        # stale takeover path clears it
        os.utime(p + "__maintenance_lock", (1_000_000, 1_000_000))
        assert _state_with_stale(spark, p) == EXPECT_ONCE

    def test_meta_replace_crash_keeps_a_readable_meta(self, spark, tmp_path):
        """A fenced fold rewrites ``_rollup_meta.json`` to advance the
        fence. A crash at the step that swaps the new meta in must leave
        the old meta or the new one, never neither: with the meta gone,
        neither the store read nor the journal recovery (which advances
        the fence again) could run. The crash is injected at both
        routes the swap can take — the Hadoop rename and ``os.replace``
        — and only for the meta file."""
        from imitation_learning_data_pipeline_spark.pipeline import compact as C

        p = str(tmp_path / "s_meta")
        _mk_store(spark, p)
        real_fs, real_replace = fsio._fs, os.replace

        def is_meta(name):
            return str(name).rstrip("/").endswith("/" + R._META)

        class _CrashOnMetaRename:
            def __init__(self, fs):
                self._fs = fs

            def __getattr__(self, n):
                return getattr(self._fs, n)

            def rename(self, src, dst):
                if is_meta(dst.toString()):
                    raise OSError("injected crash")
                return self._fs.rename(src, dst)

        def fake_fs(spark_, path_):
            fs, jp = real_fs(spark_, path_)
            return _CrashOnMetaRename(fs), jp

        def crash_replace(src, dst):
            if is_meta(dst):
                raise OSError("injected crash")
            return real_replace(src, dst)

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(R, "_fs", fake_fs, raising=False)
            mp.setattr(C, "_fs", fake_fs)
            mp.setattr(os, "replace", crash_replace)
            with pytest.raises(OSError, match="injected crash"):
                fold_rollup_into_store(
                    spark, p, _batch_partials(spark), batch_id=1
                )
        assert os.path.exists(os.path.join(p, R._META))
        assert os.path.exists(os.path.join(p, PENDING))
        # the read completes the journaled fold, fence included
        assert _state(spark, p) == EXPECT_ONCE
        assert R._read_meta(spark, p)["last_batch"] == 1
        assert not os.path.exists(os.path.join(p, PENDING))

    def test_compact_swap_crash_is_finished_by_the_next_read(
        self, spark, tmp_path
    ):
        """compact_rollup_store commits through the journaled staged
        swap: a crash after the old store is dropped and before the
        compacted one is renamed in leaves no store at the path, and the
        next read finishes the swap — fence included — instead of
        failing on a missing store."""
        from imitation_learning_data_pipeline_spark.plans.rollup import (
            compact_rollup_store,
        )

        p = str(tmp_path / "s_cswap")
        _mk_store(spark, p)
        fold_rollup_into_store(spark, p, _batch_partials(spark), batch_id=1)

        def drop_then_crash(fs, jvm_path, live, tmp):
            fsio._rm(fs, jvm_path, live)
            raise RuntimeError("injected crash")

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(fsio, "_swap_in", drop_then_crash)
            with pytest.raises(RuntimeError, match="injected crash"):
                compact_rollup_store(spark, p)
        assert not os.path.exists(p)
        assert _state(spark, p) == EXPECT_ONCE
        assert R._read_meta(spark, p)["last_batch"] == 1
        assert not os.path.exists(p + "__rollup_compact_pending.json")
        assert not os.path.exists(p + "__rollup_tmp")

    def test_read_with_stale_lock_s_takes_over(self, spark, tmp_path):
        p = str(tmp_path / "s7")
        _mk_store(spark, p)
        _crash_fold(spark, p, _batch_partials(spark), "_advance_fence")
        lock = p + "__maintenance_lock"
        with open(lock, "w") as fh:
            fh.write('{"op": "rollup-fold", "pid": 1}')
        os.utime(lock, (1_000_000, 1_000_000))
        assert _state_with_stale(spark, p) == EXPECT_ONCE
        assert not os.path.exists(lock)


def _state_with_stale(spark, p):
    rows = read_rollup(spark, p, finalize=False, stale_lock_s=3600).collect()
    return {r["g"]: (r["n_rows"], r["x__sum"]) for r in rows}


class TestPreserveHistoryFailure:
    def _table_with_history(self, spark, tmp_path, name):
        p = str(tmp_path / name)
        spark.range(0, 50).selectExpr("id", "id AS val").write.parquet(p)
        os.makedirs(os.path.join(p, "_history"), exist_ok=True)
        with open(os.path.join(p, "_history", "events.jsonl"), "w") as fh:
            fh.write('{"op": "create"}\n')
        return p

    def test_stage_aside_failure_raises_before_overwrite(
        self, spark, tmp_path
    ):
        """fs.rename returning False at stage-aside must raise, not
        silently let the overwrite destroy _history (ADVICE r8 item 2)."""
        from imitation_learning_data_pipeline_spark.pipeline import merge as M

        p = self._table_with_history(spark, tmp_path, "h1")
        real_fs = M._fs

        class _NoRename:
            def __init__(self, fs):
                self._fs = fs

            def __getattr__(self, n):
                return getattr(self._fs, n)

            def rename(self, src, dst):
                return False

        def fake_fs(spark_, path_):
            fs, jp = real_fs(spark_, path_)
            return _NoRename(fs), jp

        entered = False
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(M, "_fs", fake_fs)
            with pytest.raises(IOError, match="_history"):
                with M._preserve_history(spark, p, "overwrite"):
                    entered = True
        assert entered is False  # raised BEFORE the body (the overwrite)
        assert os.path.exists(os.path.join(p, "_history", "events.jsonl"))

    def test_history_restored_when_write_fails(self, spark, tmp_path):
        """The overwrite body dying (table dir wiped) still restores
        _history from the stage-aside sibling."""
        from imitation_learning_data_pipeline_spark.pipeline import merge as M

        p = self._table_with_history(spark, tmp_path, "h2")
        with pytest.raises(RuntimeError, match="write died"):
            with M._preserve_history(spark, p, "overwrite"):
                shutil.rmtree(p)  # an overwrite removes the dir first
                raise RuntimeError("write died")
        assert os.path.exists(os.path.join(p, "_history", "events.jsonl"))
        _dir, _base = p.rsplit("/", 1)
        assert not os.path.exists(f"{_dir}/.{_base}__history_stage")

    def test_cluster_write_end_to_end_keeps_history(self, spark, tmp_path):
        """Happy path through the real writer: overwrite cluster_write
        preserves the audit log."""
        from imitation_learning_data_pipeline_spark.pipeline.merge import (
            cluster_write,
        )

        p = self._table_with_history(spark, tmp_path, "h3")
        df = spark.range(0, 50).selectExpr("id", "id AS val")
        cluster_write(df, p, by="id", n_files=2, mode="overwrite")
        assert os.path.exists(os.path.join(p, "_history", "events.jsonl"))
        got = spark.read.parquet(p)
        assert got.count() == 50
        assert "_history" not in [c for c in got.columns]


class TestCompactPathAbsentRestore:
    def test_restore_when_table_dir_missing(self, spark, tmp_path):
        """Hard crash between rename(path→old) and rename(tmp→path):
        path is ABSENT, old holds the full pre-swap table. The next
        compact must restore old before listing — previously
        _list_parquet raised first (ADVICE r8 item 3)."""
        from imitation_learning_data_pipeline_spark.pipeline.compact import (
            compact,
        )

        p = str(tmp_path / "t")
        spark.range(0, 1000).selectExpr("id", "id AS val").repartition(
            8
        ).write.parquet(p)
        os.makedirs(os.path.join(p, "_history"), exist_ok=True)
        with open(os.path.join(p, "_history", "events.jsonl"), "w") as fh:
            fh.write('{"op": "create"}\n')
        _dir, _base = p.rsplit("/", 1)
        old = f"{_dir}/.{_base}__compact_old"
        tmp = f"{_dir}/.{_base}__compact_tmp"
        # build the crash state by hand: table renamed aside, staged
        # output fully written (content irrelevant — it is discarded)
        os.rename(p, old)
        os.makedirs(tmp)
        with open(os.path.join(tmp, "part-junk.parquet"), "w") as fh:
            fh.write("junk from the crashed run")
        out = compact(spark, p, target_bytes=1 << 30)
        assert out["files_after"] >= 1
        got = spark.read.parquet(p)
        assert got.count() == 1000
        assert not os.path.exists(old)
        assert not os.path.exists(tmp)

    def test_restore_failure_raises_loudly(self, spark, tmp_path):
        """If even the restore rename fails the error names both paths
        instead of the opaque path-not-found from the listing."""
        from imitation_learning_data_pipeline_spark.pipeline import compact as C

        p = str(tmp_path / "t2")
        spark.range(0, 10).write.parquet(p)
        _dir, _base = p.rsplit("/", 1)
        old = f"{_dir}/.{_base}__compact_old"
        os.rename(p, old)
        real_fs = C._fs

        class _NoRename:
            def __init__(self, fs):
                self._fs = fs

            def __getattr__(self, n):
                return getattr(self._fs, n)

            def rename(self, src, dst):
                return False

        def fake_fs(spark_, path_):
            fs, jp = real_fs(spark_, path_)
            return _NoRename(fs), jp

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(C, "_fs", fake_fs)
            with pytest.raises(IOError, match="restor"):
                C.compact(spark, p, target_bytes=1 << 30)


class TestBoundsExtractionProperties:
    """Property test for the predicate-bounds extractor: randomly
    composed conjunct lists must extract to exactly the interval
    intersection, with distractor subtrees changing nothing."""

    from hypothesis import given, settings
    from hypothesis import strategies as st

    conjunct = st.tuples(
        st.sampled_from(["alpha", "beta_2", "g"]),
        st.sampled_from([">=", ">", "<=", "<", "="]),
        st.integers(min_value=-1000, max_value=1000),
    )

    @staticmethod
    def _expected(conjs):
        out = {}
        for col, op, v in conjs:
            lo, hi = out.get(col, (None, None))
            if op in (">=", ">"):
                lo = v if lo is None else max(lo, v)
            elif op in ("<=", "<"):
                hi = v if hi is None else min(hi, v)
            else:
                lo = v if lo is None else max(lo, v)
                hi = v if hi is None else min(hi, v)
            out[col] = (lo, hi)
        return {c: b for c, b in out.items() if b != (None, None)}

    @given(
        conjs=st.lists(conjunct, min_size=1, max_size=6),
        distract=st.booleans(),
    )
    @settings(max_examples=60, deadline=None)
    def test_extraction_matches_interval_intersection(self, conjs, distract):
        from imitation_learning_data_pipeline_spark.pipeline.manifest import (
            extract_range_bounds,
        )

        parts = [f"{c} {op} {v}" for c, op, v in conjs]
        if distract:
            # OR subtree and a function call must contribute nothing
            parts.insert(1 % len(parts), "(zeta > 1 OR zeta < -1)")
            parts.append("length(name) >= 3")
        where = " AND ".join(parts)
        got = extract_range_bounds(where)
        expect = self._expected(conjs)
        for col in ("zeta", "name", "length"):
            assert col not in got
        assert got == expect


class TestDmlFindPhasePruning:
    """Round-9: DML find phases pre-cut their file set through manifest
    stats — a delete/update whose predicate range misses every file
    never stats one, and results are identical with or without the
    manifest."""

    def _mk(self, spark, tmp_path, name, with_manifest=True):
        from imitation_learning_data_pipeline_spark.pipeline.manifest import (
            write_manifest,
        )
        from imitation_learning_data_pipeline_spark.pipeline.merge import (
            cluster_write,
        )

        p = str(tmp_path / name)
        df = spark.range(0, 10_000).selectExpr("id", "id % 7 AS v")
        cluster_write(df, p, by="id", n_files=10)
        if with_manifest:
            write_manifest(spark, p, stats_cols=["id"])
        return p

    def test_delete_same_result_with_and_without_stats(
        self, spark, tmp_path
    ):
        from imitation_learning_data_pipeline_spark.pipeline.merge import (
            delete_from,
        )

        pred = "id BETWEEN 3000 AND 3099 AND v = 2"
        pa = self._mk(spark, tmp_path, "a", with_manifest=True)
        pb = self._mk(spark, tmp_path, "b", with_manifest=False)
        sa = delete_from(spark, pa, pred)
        sb = delete_from(spark, pb, pred)
        assert sa["rows_deleted"] == sb["rows_deleted"] > 0
        ga = sorted(
            (r["id"], r["v"]) for r in spark.read.parquet(pa).collect()
        )
        gb = sorted(
            (r["id"], r["v"]) for r in spark.read.parquet(pb).collect()
        )
        assert ga == gb
        # both finds localize to the range's file neighborhood; the two
        # tables cluster with independently SAMPLED cut points, so
        # their exact counts can differ by a straddle — assert locality,
        # not cross-table equality
        assert sa["files_touched"] <= 3
        assert sb["files_touched"] <= 3

    def test_out_of_range_predicate_touches_nothing(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline.merge import (
            delete_from,
            update_where,
        )

        p = self._mk(spark, tmp_path, "c")
        out = delete_from(spark, p, "id >= 50000")
        assert out == {
            "files_touched": 0,
            "files_added": 0,
            "rows_deleted": 0,
        }
        out2 = update_where(spark, p, "id >= 50000", {"v": "v + 1"})
        assert out2["files_touched"] == 0
        assert spark.read.parquet(p).count() == 10_000

    def test_update_with_pruned_find_is_exact(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline.merge import (
            update_where,
        )

        p = self._mk(spark, tmp_path, "d")
        out = update_where(
            spark, p, "id BETWEEN 7000 AND 7009", {"v": "-1"}
        )
        assert out["rows_updated"] == 10
        got = spark.read.parquet(p)
        assert got.filter("v = -1").count() == 10
        assert got.count() == 10_000


class TestReadWhereAutoPruning:
    """Round-9: automatic data skipping from a SQL predicate — range
    conjuncts on stats columns prune files; the FULL predicate always
    applies as the residual, so correctness never depends on what the
    extractor understood."""

    def test_bounds_extraction(self):
        from imitation_learning_data_pipeline_spark.pipeline.manifest import (
            extract_range_bounds,
        )

        b = extract_range_bounds(
            "id >= 100 AND id < 200 AND v = 'x' AND (a > 1 OR b < 2) "
            "AND ts >= timestamp'2026-01-01 00:00:00' AND w BETWEEN 5 AND 9"
        )
        assert b["id"] == (100, 200)
        assert b["v"] == ("x", "x")
        assert b["ts"] == ("2026-01-01T00:00:00", None)
        assert b["w"] == (5, 9)
        assert "a" not in b and "b" not in b  # OR subtree ignored
        # repeated conjuncts intersect
        assert extract_range_bounds("id >= 10 AND id >= 50 AND id <= 90")[
            "id"
        ] == (50, 90)
        # nothing extractable → empty
        assert extract_range_bounds("length(text) > 5") == {}

    def test_read_where_prunes_and_matches(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline.manifest import (
            read_where,
            write_manifest,
        )
        from imitation_learning_data_pipeline_spark.pipeline.merge import (
            cluster_write,
        )

        p = str(tmp_path / "rw")
        df = spark.range(0, 10_000).selectExpr("id", "id % 7 AS v")
        cluster_write(df, p, by="id", n_files=10)
        write_manifest(spark, p, stats_cols=["id"])
        where = "id BETWEEN 4000 AND 4999 AND v = 3"
        got = sorted(r["id"] for r in read_where(spark, p, where).collect())
        expect = sorted(
            r["id"]
            for r in spark.read.parquet(p).filter(where).collect()
        )
        assert got == expect and len(got) > 0
        # the pruned plan really reads fewer files
        assert len(read_where(spark, p, where).inputFiles()) <= 3
        assert (
            len(spark.read.parquet(p).filter(where).inputFiles()) == 10
        )

    def test_unprunable_predicates_fall_back(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline.manifest import (
            read_where,
            write_manifest,
        )

        p = str(tmp_path / "rw2")
        spark.range(0, 100).selectExpr("id", "id % 3 AS v").write.parquet(p)
        write_manifest(spark, p, stats_cols=["id"])
        # OR at top level: no bounds → plain read, still correct
        got = read_where(spark, p, "id < 5 OR id > 95").count()
        assert got == 9
        # stats-less column: falls back
        assert read_where(spark, p, "v = 1").count() == 33


class TestDmlCrashSweep:
    """Round-9: systematic crash-injection sweep over the DML family.
    Each scenario kills one op at one commit window (before the
    journal, during the post-move deletes, during the manifest delta),
    then recovers via pipeline.merge.recover and asserts the FULL
    invariant set: exact expected rows, no duplicate keys, manifest
    consistent with the listing, metadata row count fresh, no stranded
    journal or staging."""

    CRASH_POINTS = ["before_journal", "during_delete", "during_manifest"]
    OPS = ["merge", "insert", "delete"]

    def _mk(self, spark, tmp_path, name):
        from imitation_learning_data_pipeline_spark.pipeline.manifest import (
            write_manifest,
        )

        p = str(tmp_path / name)
        spark.range(0, 200).selectExpr("id", "id AS val").repartition(
            4
        ).write.parquet(p)
        write_manifest(spark, p, stats_cols=["id"])
        return p

    def _run_op(self, spark, p, op):
        from imitation_learning_data_pipeline_spark.pipeline.merge import (
            delete_from,
            insert_into,
            merge_into,
        )

        if op == "merge":
            merge_into(
                spark,
                p,
                spark.createDataFrame([(7, -7), (1000, -1)], ["id", "val"]),
                key="id",
            )
        elif op == "insert":
            insert_into(
                spark, p, spark.createDataFrame([(1000, -1)], ["id", "val"])
            )
        else:
            delete_from(spark, p, "id >= 190")

    def _expected(self, op):
        base = {(i, i) for i in range(200)}
        if op == "merge":
            return (base - {(7, 7)}) | {(7, -7), (1000, -1)}
        if op == "insert":
            return base | {(1000, -1)}
        return {(i, v) for (i, v) in base if i < 190}

    def _patch(self, mp, point):
        from imitation_learning_data_pipeline_spark.pipeline import (
            merge as M,
        )

        def boom(*a, **k):
            raise RuntimeError("injected crash")

        if point == "before_journal":
            mp.setattr(fsio, "_write_journal", boom)
        elif point == "during_delete":
            # after the journal + moves, while replaced files retire
            from imitation_learning_data_pipeline_spark.pipeline import (
                snapshot as S,
            )

            mp.setattr(M, "retire_or_delete", boom, raising=False)
            mp.setattr(S, "retire_or_delete", boom)
        else:  # during_manifest: after moves + deletes, before the
            # journal clears
            from imitation_learning_data_pipeline_spark.pipeline import (
                manifest as MF,
            )

            mp.setattr(M, "apply_deltas", boom, raising=False)
            mp.setattr(MF, "apply_deltas", boom)

    @pytest.mark.parametrize("op", OPS)
    @pytest.mark.parametrize("point", CRASH_POINTS)
    def test_crash_then_recover_converges(self, spark, tmp_path, op, point):
        from imitation_learning_data_pipeline_spark.pipeline.manifest import (
            manifest_row_count,
            verify_manifest,
            write_manifest,
        )
        from imitation_learning_data_pipeline_spark.pipeline.merge import (
            recover,
        )

        if op == "insert" and point == "during_delete":
            pytest.skip("insert deletes nothing — no such window")
        p = self._mk(spark, tmp_path, f"{op}-{point}")
        with pytest.MonkeyPatch.context() as mp:
            self._patch(mp, point)
            with pytest.raises(RuntimeError, match="injected crash"):
                self._run_op(spark, p, op)

        recover(spark, p)
        if point == "before_journal":
            # nothing journaled → nothing committed: original state
            expect = {(i, i) for i in range(200)}
        else:
            # journal landed → the commit is the truth and must finish
            expect = self._expected(op)
        got = {
            (r["id"], r["val"]) for r in spark.read.parquet(p).collect()
        }
        assert got == expect, f"{op}/{point}"
        dup = (
            spark.read.parquet(p)
            .groupBy("id")
            .count()
            .filter("count > 1")
            .count()
        )
        assert dup == 0
        diff = verify_manifest(spark, p)
        assert diff["missing"] == [] and diff["extra"] == [], f"{op}/{point}"
        assert not os.path.exists(os.path.join(p, "__merge_pending.json"))
        assert not os.path.exists(p + "__merge_tmp")
        assert not os.path.exists(p + "__maintenance_lock")
        # recovery refreshes the manifest wholesale → stats and counts
        # stay answerable (before_journal leaves the original manifest)
        rc = manifest_row_count(spark, p)
        if rc is None:  # refresh may have been the pre-stats fallback
            write_manifest(spark, p)
            rc = manifest_row_count(spark, p)
        assert rc == len(expect)

        # and the op RE-RUN on the recovered table lands cleanly
        self._run_op(spark, p, op)
        got2 = {
            (r["id"], r["val"]) for r in spark.read.parquet(p).collect()
        }
        assert got2 == self._expected(op)


class TestVacuumOrphans:
    """Round-9: manifest-referenced orphan GC — removes only aged,
    unmanifested, snapshot-unreferenced data files."""

    def _table(self, spark, tmp_path, name):
        from imitation_learning_data_pipeline_spark.pipeline.manifest import (
            write_manifest,
        )

        p = str(tmp_path / name)
        spark.range(0, 100).selectExpr("id", "id AS val").repartition(
            2
        ).write.parquet(p)
        write_manifest(spark, p)
        return p

    def _plant_orphan(self, spark, p, name, old=True):
        import shutil as sh

        tmp = p + "_stage"
        spark.createDataFrame([(9999, -1)], ["id", "val"]).coalesce(
            1
        ).write.mode("overwrite").parquet(tmp)
        staged = next(
            f for f in os.listdir(tmp) if f.endswith(".parquet")
        )
        dst = os.path.join(p, name)
        sh.move(os.path.join(tmp, staged), dst)
        if old:
            os.utime(dst, (1_000_000, 1_000_000))
        return dst

    def test_aged_orphan_removed_fresh_kept(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline.manifest import (
            vacuum_orphans,
        )

        p = self._table(spark, tmp_path, "v1")
        self._plant_orphan(spark, p, "part-orphan-old.parquet", old=True)
        fresh = self._plant_orphan(
            spark, p, "part-orphan-new.parquet", old=False
        )
        dry = vacuum_orphans(spark, p, older_than_s=3600, dry_run=True)
        assert dry["removed"] == ["part-orphan-old.parquet"]
        assert os.path.exists(os.path.join(p, "part-orphan-old.parquet"))
        out = vacuum_orphans(spark, p, older_than_s=3600)
        assert out["removed"] == ["part-orphan-old.parquet"]
        assert out["kept_recent"] == 1
        assert out["bytes_reclaimed"] > 0
        assert not os.path.exists(os.path.join(p, "part-orphan-old.parquet"))
        assert os.path.exists(fresh)
        # manifested data untouched, table still reads clean
        assert spark.read.parquet(p).filter("id < 100").count() == 100

    def test_guards(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline.manifest import (
            vacuum_orphans,
        )

        bare = str(tmp_path / "bare")
        spark.range(5).write.parquet(bare)
        with pytest.raises(ValueError, match="no manifest"):
            vacuum_orphans(spark, bare)
        p = self._table(spark, tmp_path, "v2")
        with open(os.path.join(p, "__merge_pending.json"), "w") as fh:
            fh.write('{"add": [], "delete": []}')
        with pytest.raises(ValueError, match="pending commit journal"):
            vacuum_orphans(spark, p)

    def test_snapshot_referenced_files_survive(self, spark, tmp_path):
        """A file a snapshot pins but the current manifest no longer
        lists must NOT be vacuumed even when aged."""
        from imitation_learning_data_pipeline_spark.pipeline.manifest import (
            vacuum_orphans,
            write_manifest,
        )
        from imitation_learning_data_pipeline_spark.pipeline.snapshot import (
            create_snapshot,
            read_snapshot,
        )

        p = self._table(spark, tmp_path, "v3")
        orphan = self._plant_orphan(spark, p, "part-pinned.parquet", old=False)
        write_manifest(spark, p)  # manifest now includes it
        create_snapshot(spark, p, "pin")  # snapshot pins the file set
        # simulate the manifest dropping it again (external refresh
        # from a state where the file was gone): hand-edit is overkill —
        # rewrite manifest WITHOUT the file by deleting + refreshing is
        # destructive; instead drop it from the manifest JSON directly
        import json as _json

        mp = os.path.join(p, "_manifest", "current.json")
        cur = _json.load(open(mp))
        cur["files"] = [
            [r, b] for r, b in cur["files"] if r != "part-pinned.parquet"
        ]
        _json.dump(cur, open(mp, "w"))
        crc = os.path.join(p, "_manifest", ".current.json.crc")
        if os.path.exists(crc):  # hand-edit invalidates Hadoop's sidecar
            os.remove(crc)
        os.utime(orphan, (1_000_000, 1_000_000))  # aged
        out = vacuum_orphans(spark, p, older_than_s=3600)
        assert out["removed"] == []  # snapshot reference protects it
        assert os.path.exists(orphan)
        assert read_snapshot(spark, p, "pin").count() == 101


class TestInsertInto:
    """Round-9: journaled INSERT completes the DML family — appends go
    through the same commit discipline as merge/delete/update instead
    of a manifest-bypassing bare write."""

    def test_append_rows_and_manifest_stats_stay_fresh(
        self, spark, tmp_path
    ):
        from imitation_learning_data_pipeline_spark.pipeline.manifest import (
            manifest_row_count,
            write_manifest,
        )
        from imitation_learning_data_pipeline_spark.pipeline.merge import (
            insert_into,
        )

        p = str(tmp_path / "t")
        spark.range(0, 100).selectExpr("id", "id AS val").write.parquet(p)
        write_manifest(spark, p, stats_cols=["id"])
        out = insert_into(
            spark,
            p,
            spark.createDataFrame([(1000, -1), (1001, -2)], ["id", "val"]),
        )
        assert out["files_added"] >= 1
        got = spark.read.parquet(p)
        assert got.count() == 102
        assert got.filter("id >= 1000").count() == 2
        # manifest delta + stats applied through the commit
        assert manifest_row_count(spark, p) == 102
        # history records the op
        from imitation_learning_data_pipeline_spark.pipeline.history import (
            history,
        )

        ops = [r["op"] for r in history(spark, p)]
        assert "insert" in ops

    def test_schema_and_layout_guards(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline.merge import (
            insert_into,
        )

        flat = str(tmp_path / "flat")
        spark.range(0, 10).selectExpr("id", "id AS val").write.parquet(flat)
        with pytest.raises(ValueError, match="schema mismatch"):
            insert_into(
                spark, flat, spark.createDataFrame([(1,)], ["id"])
            )
        with pytest.raises(ValueError, match="flat layout"):
            insert_into(
                spark,
                flat,
                spark.createDataFrame([(1, 2)], ["id", "val"]),
                partition_by=["val"],
            )
        part = str(tmp_path / "part")
        spark.range(0, 10).selectExpr(
            "id", "id % 2 AS split"
        ).write.partitionBy("split").parquet(part)
        with pytest.raises(ValueError, match="Hive-partitioned"):
            insert_into(
                spark, part, spark.createDataFrame([(11, 1)], ["id", "split"])
            )
        out = insert_into(
            spark,
            part,
            spark.createDataFrame([(11, 1)], ["id", "split"]),
            partition_by=["split"],
        )
        assert out["files_added"] >= 1
        got = spark.read.parquet(part)
        assert got.count() == 11
        assert got.filter("split = 1").count() == 6

    def test_values_cast_to_target_types(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline.merge import (
            insert_into,
        )

        p = str(tmp_path / "c")
        spark.range(0, 5).selectExpr(
            "id", "cast(id AS double) AS val"
        ).write.parquet(p)
        insert_into(
            spark, p, spark.createDataFrame([(9, 9)], ["id", "val"])
        )  # int val → cast to double, schema unchanged
        got = spark.read.parquet(p)
        assert dict(got.dtypes)["val"] == "double"
        assert got.count() == 6

    def test_insert_completes_crashed_prior_commit(self, spark, tmp_path):
        """An insert on a path with a pending journal finishes it first
        — same recovery discipline as the rest of the DML family."""
        from imitation_learning_data_pipeline_spark.pipeline.merge import (
            insert_into,
        )

        p = str(tmp_path / "cr")
        spark.range(0, 50).selectExpr("id", "id AS val").write.parquet(p)
        tmp = p + "__merge_tmp"
        spark.createDataFrame([(777, -7)], ["id", "val"]).coalesce(
            1
        ).write.parquet(tmp)
        staged = next(
            f for f in os.listdir(tmp) if f.endswith(".parquet")
        )
        with open(os.path.join(p, "__merge_pending.json"), "w") as fh:
            json.dump({"add": [staged], "delete": []}, fh)
        insert_into(
            spark, p, spark.createDataFrame([(888, -8)], ["id", "val"])
        )
        ids = {r["id"] for r in spark.read.parquet(p).collect()}
        assert 777 in ids and 888 in ids
        assert len(ids) == 52
        assert not os.path.exists(os.path.join(p, "__merge_pending.json"))


class TestWebdatasetExport:
    """Round-9 sink: WebDataset tar shards with the deterministic
    shard/order permutation and normalized tar metadata — re-exports
    must be byte-identical."""

    def _docs(self, spark):
        rows = [
            (i, f"document number {i} with some text", f"src{i % 3}")
            for i in range(200)
        ]
        return spark.createDataFrame(rows, "doc_id long, text string, source string")

    def test_roundtrip_and_determinism(self, spark, tmp_path):
        import hashlib
        import tarfile

        from imitation_learning_data_pipeline_spark.pipeline.webdataset import (
            export_webdataset,
        )

        docs = self._docs(spark)
        out1, out2 = str(tmp_path / "w1"), str(tmp_path / "w2")
        rep1 = export_webdataset(
            docs, out1, n_shards=8, meta_cols=["source"]
        )
        rep2 = export_webdataset(
            docs, out2, n_shards=8, meta_cols=["source"]
        )
        assert rep1 == rep2
        assert sum(r["n_samples"] for r in rep1) == 200
        assert {r["shard"] for r in rep1} == set(range(8))

        # byte-identical re-export, container bytes included
        for shard in range(8):
            name = f"shard-{shard:06d}.tar"
            h1 = hashlib.sha256(
                open(f"{out1}/{name}", "rb").read()
            ).hexdigest()
            h2 = hashlib.sha256(
                open(f"{out2}/{name}", "rb").read()
            ).hexdigest()
            assert h1 == h2
        assert not any(f.endswith(".tmp") for f in os.listdir(out1))

        # read back through plain tarfile: grouped members, full corpus
        seen_docs, seen_meta = {}, {}
        for shard in range(8):
            with tarfile.open(f"{out1}/shard-{shard:06d}.tar") as tf:
                names = tf.getnames()
                for nm in names:
                    key, ext = nm.rsplit(".", 1)
                    data = tf.extractfile(nm).read()
                    if ext == "txt":
                        seen_docs[int(key)] = data.decode()
                    elif ext == "json":
                        seen_meta[int(key)] = json.loads(data)
        assert len(seen_docs) == 200
        assert seen_docs[7] == "document number 7 with some text"
        assert seen_meta[7] == {"source": "src1"}

    def test_in_shard_order_is_the_plan_order(self, spark, tmp_path):
        import tarfile

        from imitation_learning_data_pipeline_spark.pipeline.webdataset import (
            export_webdataset,
        )
        from imitation_learning_data_pipeline_spark.plans.sampling import (
            shard_plan,
        )

        docs = self._docs(spark)
        out = str(tmp_path / "w3")
        export_webdataset(docs, out, n_shards=4)
        plan = {
            (r["shard"], r["shard_rank"]): r["doc_id"]
            for r in shard_plan(docs.select("doc_id"), n_shards=4).collect()
        }
        for shard in range(4):
            with tarfile.open(f"{out}/shard-{shard:06d}.tar") as tf:
                keys = [int(n.rsplit(".", 1)[0]) for n in tf.getnames()]
            expect = [
                plan[(shard, rk)] for rk in range(1, len(keys) + 1)
            ]
            assert keys == expect

    def test_missing_column_raises(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline.webdataset import (
            export_webdataset,
        )

        with pytest.raises(ValueError, match="missing columns"):
            export_webdataset(
                self._docs(spark), str(tmp_path / "w4"), binary_col="blob"
            )


class TestCurationFunnel:
    """Round-9: the operational curation cascade — each stage is a
    contract-covered plan; these tests pin the composition and the
    funnel report."""

    def _corpus(self, spark):
        good = TestGopherPublishedThresholds.GOOD_1  # ~70 words, all rules pass
        rows = [
            (0, good),
            (1, good),  # exact dup of 0 → dedup drops it
            (2, good + " Contact me at jane@example.com for details."),
            (3, "too short"),  # gopher drops it
            (4, good.replace("truth", "verity")),  # distinct survivor
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_stage_chain_and_report(self, spark):
        from imitation_learning_data_pipeline_spark.plans.curation import (
            curation_funnel,
        )

        curated, report = curation_funnel(
            self._corpus(spark), stages=("gopher", "pii", "dedup")
        )
        stages = [r["stage"] for r in report]
        assert stages == ["gopher", "pii", "dedup"]
        # gopher: drops the short doc (5 → 4)
        assert report[0] == {"stage": "gopher", "rows_in": 5, "rows_out": 4}
        # pii transforms, drops nothing
        assert report[1]["rows_out"] == 4
        # dedup: 0 and 1 are identical → one survives
        assert report[2]["rows_out"] == 3
        rows = {r["doc_id"]: r["text"] for r in curated.collect()}
        curated.unpersist()
        assert set(rows) == {0, 2, 4}  # keep-lowest doc_id of the dup pair
        assert "<EMAIL>" in rows[2] and "@" not in rows[2]

    def test_funnel_chain_is_consistent(self, spark):
        from imitation_learning_data_pipeline_spark.plans.curation import (
            curation_funnel,
        )

        curated, report = curation_funnel(self._corpus(spark))
        for prev, nxt in zip(report, report[1:]):
            assert prev["rows_out"] == nxt["rows_in"]
        assert curated.count() == report[-1]["rows_out"]
        curated.unpersist()

    def test_report_false_builds_one_lazy_plan(self, spark):
        from imitation_learning_data_pipeline_spark.plans.curation import (
            curation_funnel,
        )

        curated, report = curation_funnel(self._corpus(spark), report=False)
        assert report == []
        reported, rep = curation_funnel(self._corpus(spark))
        # same final population whether counted per-stage or built lazy
        assert curated.count() == rep[-1]["rows_out"]
        assert {r["doc_id"] for r in curated.collect()} == {
            r["doc_id"] for r in reported.collect()
        }
        reported.unpersist()

    def test_unknown_stage_raises(self, spark):
        from imitation_learning_data_pipeline_spark.plans.curation import (
            curation_funnel,
        )

        with pytest.raises(ValueError, match="unknown stages"):
            curation_funnel(self._corpus(spark), stages=("gopher", "nope"))


class TestPiiScrub:
    """Round-9 operator: PII redaction. The synthetic corpus carries no
    PII (the contract row checks cross-engine regex parity on clean
    text); the discriminating cases are planted here."""

    def test_planted_pii_redacted_and_counted(self, spark):
        from imitation_learning_data_pipeline_spark.plans.text import pii_scrub

        rows = [
            (0, "contact alice.smith+x@example.org or bob@sub.domain.co"),
            (1, "server at 192.168.1.10 and backup at 10.0.0.255 today"),
            (2, "call +1 (415) 555-0100 or +44 20 7946 0958 now"),
            (3, "mixed: a@b.io from 127.0.0.1 dialed +33 1 23 45 67 89"),
            (4, "clean text with numbers 12345 and a year 2026"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r.asDict() for r in pii_scrub(docs).collect()}

        assert (out[0]["n_emails"], out[0]["n_ipv4"], out[0]["n_phones"]) == (
            2, 0, 0,
        )
        assert "<EMAIL>" in out[0]["text_clean"]
        assert "@" not in out[0]["text_clean"]

        assert out[1]["n_ipv4"] == 2
        assert out[1]["text_clean"].count("<IP>") == 2
        assert "192.168" not in out[1]["text_clean"]

        assert out[2]["n_phones"] == 2
        assert out[2]["text_clean"].count("<PHONE>") == 2
        assert "555" not in out[2]["text_clean"]

        assert (out[3]["n_emails"], out[3]["n_ipv4"], out[3]["n_phones"]) == (
            1, 1, 1,
        )
        for tag in ("<EMAIL>", "<IP>", "<PHONE>"):
            assert tag in out[3]["text_clean"]

        # precision: plain numbers and years are NOT phone numbers
        assert (out[4]["n_emails"], out[4]["n_ipv4"], out[4]["n_phones"]) == (
            0, 0, 0,
        )
        assert out[4]["text_clean"] == rows[4][1]


class TestBm25TopK:
    """Round-9 operator: Okapi BM25 ranking. The full-formula
    hash-check against DuckDB lives in the contract library
    (text_bm25_topk, --all gate); these tests pin the ranking
    SEMANTICS on a corpus built to make the right order obvious."""

    def _corpus(self, spark):
        rows = [
            # d0: both terms, short doc → highest score
            (0, "spark engine spark rank"),
            # d1: both terms, diluted by length
            (1, "spark engine " + "filler " * 60),
            # d2: one term only
            (2, "spark alone here with words"),
            # d3: rare term 'engine' only — idf(engine) > idf(spark)
            (3, "engine text goes here"),
            # d4: no query terms → never ranked
            (4, "nothing relevant at all"),
            # d5-d9: background docs with 'spark' (lowers its idf)
            *[(5 + i, f"spark background doc number {i}") for i in range(5)],
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_ranking_semantics(self, spark):
        from imitation_learning_data_pipeline_spark.plans.text import bm25_topk

        out = bm25_topk(self._corpus(spark), ["spark", "engine"], k=10)
        rows = out.collect()
        ids = [r["doc_id"] for r in rows]
        scores = [r["bm25"] for r in rows]
        assert ids[0] == 0  # both terms, compact doc wins
        assert 4 not in ids  # zero-score docs never rank
        assert scores == sorted(scores, reverse=True)
        by_id = dict(zip(ids, scores))
        # idf: 'engine' appears in 2/11 docs, 'spark' in 8/11 → the
        # engine-only doc outranks any spark-only doc
        assert by_id[3] > by_id[2]
        # length normalization: the diluted doc scores below the
        # compact doc despite identical term counts
        assert by_id[0] > by_id[1]

    def test_k_cut_and_guards(self, spark):
        from imitation_learning_data_pipeline_spark.plans.text import bm25_topk

        corpus = self._corpus(spark)
        assert bm25_topk(corpus, ["spark"], k=3).count() == 3
        with pytest.raises(ValueError, match="empty query"):
            bm25_topk(corpus, [])

    def test_determinism(self, spark):
        from imitation_learning_data_pipeline_spark.plans.text import bm25_topk

        corpus = self._corpus(spark)
        a = [tuple(r) for r in bm25_topk(corpus, ["spark", "engine"]).collect()]
        b = [tuple(r) for r in bm25_topk(corpus, ["spark", "engine"]).collect()]
        assert a == b


def read_pruned_ids(spark, p, lo, hi):
    from imitation_learning_data_pipeline_spark.pipeline.manifest import (
        read_pruned,
    )

    return sorted(r["id"] for r in read_pruned(spark, p, "id", lo, hi).collect())


class TestManifestDataSkipping:
    """Round-9 feature: per-file min/max + row counts in the manifest →
    driver-side file pruning with ZERO file I/O on the skipped set, and
    metadata-only COUNT(*). The scan-path win the explicit-path read
    couldn't deliver (SCALING.md round-9 break-even study) — pruning
    needs no FileIndex hook because skipped files are never given to
    Spark at all."""

    def _clustered(self, spark, tmp_path, name):
        from imitation_learning_data_pipeline_spark.pipeline.merge import (
            cluster_write,
        )

        p = str(tmp_path / name)
        df = spark.range(0, 10_000).selectExpr(
            "id", "id % 7 AS v", "timestamp_seconds(1780000000 + id) AS ts"
        )
        cluster_write(df, p, by="id", n_files=10)
        return p

    def test_range_read_prunes_files_and_matches_plain_filter(
        self, spark, tmp_path
    ):
        from imitation_learning_data_pipeline_spark.pipeline.manifest import (
            prune_files,
            read_pruned,
            write_manifest,
        )

        p = self._clustered(spark, tmp_path, "ds")
        payload = write_manifest(spark, p, stats_cols=["id"])
        assert payload["stats_cols"] == ["id"]
        # clustered by id into 10 disjoint ranges: a 1000-row range
        # intersects 2-3 files (repartitionByRange samples its cut
        # points, so the exact boundaries vary per run)
        pr = prune_files(spark, p, "id", 2000, 2999)
        assert pr["n_total"] == 10
        assert pr["n_skipped"] >= 7
        got = sorted(
            r["id"] for r in read_pruned(spark, p, "id", 2000, 2999).collect()
        )
        assert got == list(range(2000, 3000))

    def test_open_ended_bounds_and_empty_result(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline.manifest import (
            read_pruned,
            write_manifest,
        )

        p = self._clustered(spark, tmp_path, "ds2")
        write_manifest(spark, p, stats_cols=["id"])
        assert read_pruned(spark, p, "id", lower=9990).count() == 10
        assert read_pruned(spark, p, "id", upper=9).count() == 10
        out = read_pruned(spark, p, "id", 50_000, 60_000)
        assert out.count() == 0
        assert set(out.columns) == {"id", "v", "ts"}  # schema survives

    def test_timestamp_stats_prune_correctly(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline.manifest import (
            prune_files,
            read_pruned,
            write_manifest,
        )

        p = self._clustered(spark, tmp_path, "ds3")
        write_manifest(spark, p, stats_cols=["ts"])
        # bounds taken from the data itself — same session-tz basis as
        # the collected stats
        lo, hi = [
            r["ts"]
            for r in spark.read.parquet(p)
            .filter("id IN (4000, 4999)")
            .orderBy("id")
            .collect()
        ]
        pr = prune_files(spark, p, "ts", lo, hi)
        # ts is monotone in id → clustered too; range-cut boundaries
        # can overlap one extra file
        assert pr["n_skipped"] >= 7
        got = sorted(
            r["id"] for r in read_pruned(spark, p, "ts", lo, hi).collect()
        )
        assert got == list(range(4000, 5000))

    def test_commit_delta_keeps_stats_fresh(self, spark, tmp_path):
        """A merge commit's delta computes stats for its added files
        (O(touched) scan), so pruning coverage and the metadata row
        count survive incremental commits without a refresh."""
        from imitation_learning_data_pipeline_spark.pipeline.manifest import (
            manifest_row_count,
            prune_files,
            read_pruned,
            write_manifest,
        )
        from imitation_learning_data_pipeline_spark.pipeline.merge import (
            merge_into,
        )

        p = self._clustered(spark, tmp_path, "ds4")
        write_manifest(spark, p, stats_cols=["id"])
        assert manifest_row_count(spark, p) == 10_000
        upd = spark.createDataFrame(
            [(999_999, 1, None)], "id long, v long, ts timestamp"
        )
        merge_into(spark, p, upd, key="id")
        got = read_pruned(spark, p, "id", 999_000, 1_000_000).collect()
        assert [r["id"] for r in got] == [999_999]
        # the new file carries stats → a low range PRUNES it away too
        pr = prune_files(spark, p, "id", 0, 9)
        assert pr["n_skipped"] >= 9
        # metadata count stays answerable through the commit
        assert manifest_row_count(spark, p) == 10_001

    def test_delta_stats_failure_degrades_honestly(self, spark, tmp_path):
        """If the delta's stats scan fails, the commit still lands: the
        added file is stat-less (always read), and the row count
        honestly returns None until the next refresh."""
        from imitation_learning_data_pipeline_spark.pipeline import (
            manifest as M,
        )
        from imitation_learning_data_pipeline_spark.pipeline.merge import (
            merge_into,
        )

        p = self._clustered(spark, tmp_path, "ds4b")
        M.write_manifest(spark, p, stats_cols=["id"])
        real = M._collect_stats

        def boom(spark_, path_, cols, only_paths=None):
            if only_paths is not None:
                raise RuntimeError("injected stats failure")
            return real(spark_, path_, cols, only_paths)

        upd = spark.createDataFrame(
            [(999_999, 1, None)], "id long, v long, ts timestamp"
        )
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(M, "_collect_stats", boom)
            merge_into(spark, p, upd, key="id")
        # stat-less file: every prune keeps it, reads stay correct
        got = read_pruned_ids(spark, p, 999_000, 1_000_000)
        assert got == [999_999]
        assert M.manifest_row_count(spark, p) is None
        M.write_manifest(spark, p)  # stats_cols preserved by default
        assert M.manifest_row_count(spark, p) == 10_001

    def test_compaction_refresh_recomputes_stats(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline.compact import (
            compact,
        )
        from imitation_learning_data_pipeline_spark.pipeline.manifest import (
            manifest_row_count,
            prune_files,
            write_manifest,
        )

        p = self._clustered(spark, tmp_path, "ds5")
        write_manifest(spark, p, stats_cols=["id"])
        compact(spark, p, target_bytes=1 << 30)  # rewrites wholesale
        cnt = manifest_row_count(spark, p)
        assert cnt == 10_000  # refresh recomputed stats for new files
        pr = prune_files(spark, p, "id", 0, 10)
        assert pr["n_total"] >= 1  # stats exist over the compacted set

    def test_multi_column_bounds_conjunction(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline.manifest import (
            prune_files,
            read_pruned,
            write_manifest,
        )

        p = self._clustered(spark, tmp_path, "ds7")
        write_manifest(spark, p, stats_cols=["id", "ts"])
        lo_ts = spark.read.parquet(p).filter("id = 3000").collect()[0]["ts"]
        pr = prune_files(
            spark, p, bounds={"id": (2500, 3499), "ts": (lo_ts, None)}
        )
        # the conjunction cuts harder than either range alone: id range
        # spans ~2 files, ts>=id3000 removes the earlier one too
        assert pr["n_skipped"] >= 7
        got = sorted(
            r["id"]
            for r in read_pruned(
                spark, p, bounds={"id": (2500, 3499), "ts": (lo_ts, None)}
            ).collect()
        )
        assert got == list(range(3000, 3500))

    def test_no_stats_falls_back_to_plain_read(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.pipeline.manifest import (
            prune_files,
            read_pruned,
            write_manifest,
        )

        p = self._clustered(spark, tmp_path, "ds6")
        write_manifest(spark, p)  # no stats opt-in
        with pytest.raises(ValueError, match="no per-file stats"):
            prune_files(spark, p, "id", 0, 10)
        got = read_pruned(spark, p, "id", 0, 9).count()
        assert got == 10  # falls back, still correct


class TestSemDeDupBoundaryTwins:
    """r7 verdict item 10: NEAR-identical (not bit-identical) twins,
    some planted at k-means cell midpoints so assignment can flip.
    Measures the cross-cell miss rate (documented in SCALING.md
    round-9) and locks the invariant that the ONLY misses are
    cross-cell — within a cell, recall on >=threshold twins is total."""

    def test_miss_rate_is_cross_cell_only(self, spark):
        import numpy as np

        from imitation_learning_data_pipeline_spark.plans.mllib_ops import (
            semdedup,
        )

        rng = np.random.RandomState(42)
        d, k = 16, 8
        centers = rng.randn(k, d)
        rows = []
        for i in range(1600):
            c = centers[i % k]
            rows.append((i, (c + rng.randn(d) * 0.3).tolist()))
        twin_pairs = []
        for i in range(160):  # interior twins: cos ≈ 0.99999
            base = np.array(rows[i][1])
            rows.append(
                (i + 1_000_000, (base + rng.randn(d) * 0.005).tolist())
            )
            twin_pairs.append((i, i + 1_000_000, "interior"))
        for j in range(40):  # boundary twins at cell midpoints
            a, b = centers[j % k], centers[(j + 1) % k]
            base = (a + b) / 2 + rng.randn(d) * 0.1
            bid = 2_000_000 + j
            rows.append((bid, base.tolist()))
            rows.append(
                (bid + 1_000_000, (base + rng.randn(d) * 0.05).tolist())
            )
            twin_pairs.append((bid, bid + 1_000_000, "boundary"))

        corpus = spark.createDataFrame(rows, "vec_id long, v array<double>")
        out = {
            r["vec_id"]: (r["cell_id"], r["cluster_id"])
            for r in semdedup(corpus, k=k, threshold=0.95).collect()
        }
        interior_det = boundary_det = boundary_n = 0
        for a, b, kind in twin_pairs:
            cell_a, clu_a = out[a]
            cell_b, clu_b = out[b]
            detected = clu_a is not None and clu_a == clu_b
            if cell_a == cell_b:
                # the blocking invariant: a same-cell >=threshold twin
                # pair is ALWAYS found — misses can only be cross-cell
                assert detected, (a, b, kind)
            else:
                assert not detected  # components never span cells
            if kind == "interior":
                interior_det += detected
            else:
                boundary_n += 1
                boundary_det += detected
        assert interior_det == 160  # interior twins never straddle
        # measured this corpus: 39/40 boundary twins land same-cell
        # (2.5% cross-cell miss). Lock a generous floor, not the point
        # estimate — k-means is seeded but numerically iterative.
        assert boundary_det >= int(boundary_n * 0.8)

        # probe_cells=2 (cell multiprobe, shuffle-free top-2 centroid
        # ranking) closes the cross-cell channel: every >=threshold
        # twin pair is found regardless of which side of the boundary
        # each member landed on
        out2 = {
            r["vec_id"]: (r["cell_id"], r["cluster_id"])
            for r in semdedup(
                corpus, k=k, threshold=0.95, probe_cells=2
            ).collect()
        }
        for a, b, kind in twin_pairs:
            _, clu_a = out2[a]
            _, clu_b = out2[b]
            assert clu_a is not None and clu_a == clu_b, (a, b, kind)
        # output cell_id stays the NEAREST cell — multiprobe only
        # widens the SEARCH, one row per vector survives
        assert len(out2) == len(out)


class TestCurriculumSkew:
    """r7 verdict item 7: one level holding 99% of the corpus must
    still bound per-task sort rows at ≈ N/S via the shard key — the
    exact property that makes the no-global-sort plan safe at 100 TB
    (a naive row_number() would sort 99% of the corpus in one task)."""

    def test_skewed_level_spreads_and_rank_stays_exact(self, spark):
        import hashlib

        from imitation_learning_data_pipeline_spark.plans.sampling import (
            _CURR_SHARDS,
            curriculum_plan,
        )

        n = 20_000
        # 99% of docs in level 0, the rest across levels 1-9
        rows = [
            (i, 0 if i < int(n * 0.99) else 1 + (i % 9)) for i in range(n)
        ]
        leveled = spark.createDataFrame(rows, "doc_id long, level long")
        out = curriculum_plan(leveled)

        # (a) the rank is the EXACT global (level, u, doc_id) order
        got = [
            r["doc_id"]
            for r in out.orderBy("curriculum_rank").collect()
        ]

        def u(doc_id):
            return (
                int(
                    hashlib.md5(f"curr|{doc_id}".encode()).hexdigest()[:8], 16
                )
                / 2**32
            )

        expect = [
            d for (d, lvl) in sorted(rows, key=lambda r: (r[1], u(r[0]), r[0]))
        ]
        assert got == expect

        # (b) skew bound: the window sort partitions on (level, shard),
        # so the dominant level's rows spread across all S shards — no
        # group may exceed ~N·0.99/S by more than hash-spread slack
        sizes = (
            leveled.selectExpr(
                "level",
                f"cast(floor(conv(substring(md5(concat('curr','|',"
                f"cast(doc_id as string))),1,8),16,10)/4294967296.0"
                f" * {_CURR_SHARDS}) as int) as shard",
            )
            .groupBy("level", "shard")
            .count()
            .collect()
        )
        max_group = max(r["count"] for r in sizes)
        ideal = n * 0.99 / _CURR_SHARDS
        assert max_group < ideal * 1.5, (max_group, ideal)
        # and the skewed level genuinely occupies every shard
        lvl0_shards = {r["shard"] for r in sizes if r["level"] == 0}
        assert len(lvl0_shards) == _CURR_SHARDS


class TestGopherPublishedThresholds:
    """r7 verdict item 6 (What's wrong #2): the contract row runs the
    stopword rule at the corpus-discriminative ≥1; this fixture of
    real-English documents checks the PUBLISHED thresholds end to end —
    ≥2 distinct required stopwords and every other paper value — with
    both keep and drop populations non-empty and each planted violator
    failing exactly its rule."""

    GOOD_1 = (
        "It is a truth universally acknowledged that a single man in "
        "possession of a good fortune must be in want of a wife. However "
        "little known the feelings or views of such a man may be on his "
        "first entering a neighbourhood, this truth is so well fixed in "
        "the minds of the surrounding families that he is considered the "
        "rightful property of some one or other of their daughters."
    )
    GOOD_2 = (
        "We hold these truths to be self evident, that all men are "
        "created equal, that they are endowed by their creator with "
        "certain unalienable rights, that among these are life, liberty "
        "and the pursuit of happiness. That to secure these rights, "
        "governments are instituted among men, deriving their just "
        "powers from the consent of the governed."
    )

    def _fixture(self, spark):
        rows = [
            ("good_austen", self.GOOD_1),
            ("good_jefferson", self.GOOD_2),
            ("bad_short", "The cat sat on the mat."),
            (
                "bad_long_words",
                " ".join(["incomprehensibilities"] * 50 + ["the", "of"]),
            ),
            ("bad_symbols", self.GOOD_1 + " " + " ".join(["#"] * 10)),
            (
                "bad_bullets",
                "\n".join(
                    ["- the quick brown fox jumps over the lazy dog of fable"]
                    * 19
                    + ["A single closing line to finish the document."]
                ),
            ),
            (
                "bad_ellipsis",
                "\n".join(
                    [
                        "the story continued without a clear ending in sight..."
                    ]
                    * 4
                    + ["the narrator described the scenery of the valley below."]
                    * 6
                ),
            ),
            (
                "bad_numeric",
                " ".join(
                    ["1234"] * 50 + ["the", "of", "and", "to"] * 2
                ),
            ),
            (
                "one_stopword",
                " ".join(["garden"] * 25 + ["the"] * 30),
            ),
        ]
        return spark.createDataFrame(rows, "doc_id string, text string")

    def test_published_values_discriminate(self, spark):
        from imitation_learning_data_pipeline_spark.plans.text import gopher_rules

        docs = self._fixture(spark)
        # operator DEFAULT == the published rule set (≥2 stopwords)
        out = {r["doc_id"]: r.asDict() for r in gopher_rules(docs).collect()}

        kept = {d for d, r in out.items() if r["keep"]}
        assert kept == {"good_austen", "good_jefferson"}
        assert 0 < len(kept) < len(out)  # both populations non-empty

        # every rule is individually exercised by its planted violator
        assert not out["bad_short"]["r_word_count"]
        assert not out["bad_long_words"]["r_mean_word_len"]
        assert not out["bad_symbols"]["r_symbol_ratio"]
        assert not out["bad_bullets"]["r_bullet_lines"]
        assert not out["bad_ellipsis"]["r_ellipsis_lines"]
        assert not out["bad_numeric"]["r_alpha_words"]
        assert not out["one_stopword"]["r_stopwords"]
        # the violators are otherwise clean where constructed to be
        for doc, rule in [
            ("bad_long_words", "r_mean_word_len"),
            ("bad_symbols", "r_symbol_ratio"),
            ("bad_bullets", "r_bullet_lines"),
            ("bad_ellipsis", "r_ellipsis_lines"),
            ("bad_numeric", "r_alpha_words"),
            ("one_stopword", "r_stopwords"),
        ]:
            others = [
                k
                for k in out[doc]
                if k.startswith("r_") and k != rule
            ]
            assert all(out[doc][k] for k in others), (
                doc,
                {k: out[doc][k] for k in others if not out[doc][k]},
            )

        # the fluent documents clear the published stopword bar with room
        assert out["good_austen"]["n_req_stopwords"] >= 2
        assert out["good_jefferson"]["n_req_stopwords"] >= 2

    def test_contract_threshold_relaxation_is_the_only_delta(self, spark):
        """At min_required_stopwords=1 (the contract's corpus-driven
        relaxation) the one-stopword document flips to keep — nothing
        else changes."""
        from imitation_learning_data_pipeline_spark.plans.text import gopher_rules

        docs = self._fixture(spark)
        pub = {r["doc_id"]: r["keep"] for r in gopher_rules(docs).collect()}
        relaxed = {
            r["doc_id"]: r["keep"]
            for r in gopher_rules(docs, min_required_stopwords=1).collect()
        }
        assert relaxed["one_stopword"] and not pub["one_stopword"]
        assert {
            d for d in pub if pub[d] != relaxed[d]
        } == {"one_stopword"}


class TestStreamingRollupLateness:
    """r7 verdict item 9: a late-arriving batch for an already-folded
    day must land in the correct day bucket through
    run_incremental_rollup_stream + compact_rollup_store — and the
    at-least-once replay story must survive the compaction."""

    @staticmethod
    def _rows(day_vals):
        from datetime import datetime, timezone

        return [
            (
                "g1",
                datetime(2026, 3, day, 12, 0, 0, tzinfo=timezone.utc),
                float(v),
            )
            for day, v in day_vals
        ]

    def _run_stream(self, spark, src, store, ckpt):
        from imitation_learning_data_pipeline_spark.streaming.incremental import (
            run_incremental_rollup_stream,
        )

        stream = (
            spark.readStream.schema("g string, ts timestamp, v double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        run_incremental_rollup_stream(
            stream, ["g"], ["v"], store, ckpt, time_col="ts", grain="day"
        )

    def test_late_day_lands_after_batch_compaction(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from imitation_learning_data_pipeline_spark.plans.rollup import (
            compact_rollup_store,
            read_rollup,
        )

        src = str(tmp_path / "src")
        store = str(tmp_path / "store")
        ckpt = str(tmp_path / "ckpt")
        first = self._rows([(1, 10.0), (1, 20.0), (2, 5.0)])
        spark.createDataFrame(first, "g string, ts timestamp, v double").coalesce(
            1
        ).write.mode("append").parquet(src)
        self._run_stream(spark, src, store, ckpt)

        # fold the accumulated partials, KEEPING the batch layout so
        # the stream can continue
        stats = compact_rollup_store(spark, store, to_layout="batch")
        assert stats["n_groups"] == 2  # (g1, day1), (g1, day2)

        # late data for day 1 — already folded into the base partition
        late = self._rows([(1, 100.0), (3, 7.0)])
        spark.createDataFrame(late, "g string, ts timestamp, v double").coalesce(
            1
        ).write.mode("append").parquet(src)
        self._run_stream(spark, src, store, ckpt)

        got = {
            r["bucket_ts"].day: (r["n_rows"], r["v_sum"])
            for r in read_rollup(spark, store)
            .select("bucket_ts", "n_rows", F.col("v_sum"))
            .collect()
        }
        assert got == {1: (3, 130.0), 2: (1, 5.0), 3: (1, 7.0)}

    def test_replay_of_folded_batch_is_fenced(self, spark, tmp_path):
        """A crashed trigger whose batch was folded by a concurrent
        batch-layout compaction must NOT double-count on replay: the
        compacted_through watermark turns the rewrite into a no-op."""
        from imitation_learning_data_pipeline_spark.plans.rollup import (
            compact_rollup_store,
            read_rollup,
            rollup_partials,
            write_rollup_store,
        )

        store = str(tmp_path / "store")
        df = spark.createDataFrame(
            self._rows([(1, 10.0), (2, 5.0)]), "g string, ts timestamp, v double"
        )
        parts = rollup_partials(df, ["g"], ["v"], time_col="ts", grain="day")
        write_rollup_store(parts, store, ingest_batch=0)
        compact_rollup_store(spark, store, to_layout="batch")
        # at-least-once replay of batch 0 AFTER its fold: fenced no-op
        write_rollup_store(parts, store, ingest_batch=0)
        got = {
            r["bucket_ts"].day: r["v_sum"]
            for r in read_rollup(spark, store).collect()
        }
        assert got == {1: 10.0, 2: 5.0}
        # a genuinely NEW batch still lands
        df2 = spark.createDataFrame(
            self._rows([(1, 1.0)]), "g string, ts timestamp, v double"
        )
        write_rollup_store(
            rollup_partials(df2, ["g"], ["v"], time_col="ts", grain="day"),
            store,
            ingest_batch=1,
        )
        got2 = {
            r["bucket_ts"].day: r["v_sum"]
            for r in read_rollup(spark, store).collect()
        }
        assert got2 == {1: 11.0, 2: 5.0}

    def test_batch_compact_refused_on_plain_store(self, spark, tmp_path):
        from imitation_learning_data_pipeline_spark.plans.rollup import (
            compact_rollup_store,
            rollup_partials,
            write_rollup_store,
        )

        store = str(tmp_path / "pstore")
        df = spark.createDataFrame(
            self._rows([(1, 10.0)]), "g string, ts timestamp, v double"
        )
        write_rollup_store(
            rollup_partials(df, ["g"], ["v"], time_col="ts", grain="day"),
            store,
            n_buckets=4,
        )
        with pytest.raises(ValueError, match="already plain"):
            compact_rollup_store(spark, store, to_layout="batch")


class TestScoreWithModelContract:
    """r7 verdict item 3: exercise the real-LM perplexity plug point
    without an LM runtime — a deterministic pure-Python char-trigram
    entropy scorer driven through score_with_model's Arrow-batched
    mapInPandas contract."""

    def _docs(self, spark):
        from tests.conftest import SF_DIR

        return (
            spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "text")
            .repartition(2)
        )

    def test_scorer_sees_batches_not_rows(self, spark):
        """Each scorer call receives a multi-row pd.Series slice of
        ≤ batch_size — encode the received batch length as the score
        and inspect the distribution."""
        from imitation_learning_data_pipeline_spark.plans.sampling import (
            score_with_model,
        )

        docs = self._docs(spark)
        scored = score_with_model(
            docs, scorer=lambda s: s.map(lambda _: float(len(s))),
            batch_size=128,
        )
        sizes = [r["ppl_score"] for r in scored.collect()]
        assert max(sizes) > 1, "scorer was invoked per-row"
        assert max(sizes) <= 128, "batch_size cap not honored"
        # a 500-doc corpus in ≥2 partitions at cap 128 → full batches
        # dominate: per-row invocation would make every size 1.0
        assert sum(1 for s in sizes if s >= 64) > len(sizes) / 2

    def test_no_scorer_raises_loudly(self, spark):
        from imitation_learning_data_pipeline_spark.plans.sampling import (
            score_with_model,
        )

        with pytest.raises(NotImplementedError, match="scorer"):
            score_with_model(self._docs(spark))

    def test_end_to_end_buckets_match_local_recompute(self, spark):
        """Entropy scores flow through score_with_model →
        perplexity_bucket_sample and agree exactly with a pure-pandas
        recomputation of the same chain — the plug point's plumbing
        carries values faithfully and the bucket/accept stage is
        scorer-agnostic."""
        import hashlib

        from pyspark.sql import functions as F

        from imitation_learning_data_pipeline_spark.plans.sampling import (
            _PPL_KEEP_RATES,
            perplexity_bucket_sample,
            score_with_model,
        )

        # defined locally so cloudpickle ships it by VALUE — the
        # executor Python workers cannot import the test module
        def entropy(text):
            import math
            from collections import Counter

            t = (text or "")[:2000]
            grams = [t[i : i + 3] for i in range(max(0, len(t) - 2))]
            if not grams:
                return 0.0
            counts = Counter(grams)
            n = len(grams)
            return -sum((v / n) * math.log2(v / n) for v in counts.values())

        docs = self._docs(spark)
        scored = score_with_model(
            docs, scorer=lambda texts: texts.map(entropy), batch_size=128
        )
        # normalize entropy (≤ ~11 bits for trigrams over 2000 chars)
        # into the [0,1) domain the bucketer expects
        normalized = scored.withColumn(
            "ppl_score", F.least(F.col("ppl_score") / 12.0, F.lit(0.999999))
        )
        got = {
            (r["doc_id"], r["bucket"])
            for r in perplexity_bucket_sample(normalized).collect()
        }

        pdf = docs.toPandas()
        expect = set()
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            score = min(entropy(text) / 12.0, 0.999999)
            bucket = min(int(score * 10), 9)
            u = (
                int(
                    hashlib.md5(f"pplkeep|{doc_id}".encode()).hexdigest()[:8],
                    16,
                )
                / 2**32
            )
            if u < _PPL_KEEP_RATES[bucket]:
                expect.add((doc_id, bucket))
        assert got == expect
        assert len(got) > 0
        # the scorer actually discriminates: multiple buckets populated
        assert len({b for (_, b) in got}) >= 2


class TestNonAtomicLockWarning:
    """r7 verdict "missing" #1: the create-exclusive lock is not atomic
    on object stores — acquiring through an s3a/gs/abfs-schemed
    FileSystem must warn loudly, once per scheme."""

    class _FakeURI:
        def __init__(self, s):
            self._s = s

        def getScheme(self):
            return self._s

    @classmethod
    def _schemed(cls, fs, scheme):
        class _Proxy:
            def __init__(self, real):
                self._real = real

            def __getattr__(self, n):
                return getattr(self._real, n)

            def getUri(self):
                return cls._FakeURI(scheme)

        return _Proxy(fs)

    def test_object_store_scheme_warns_once(self, spark, tmp_path):
        import warnings

        from imitation_learning_data_pipeline_spark.pipeline import compact as C

        p = str(tmp_path / "w")
        spark.range(5).write.parquet(p)
        fs, _ = C._fs(spark, p)
        jvm_path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
        C._warned_schemes.discard("s3a")
        with pytest.warns(RuntimeWarning, match="NOT atomic"):
            C._acquire_lock(spark, self._schemed(fs, "s3a"), jvm_path, p, "op")
        C.release_lock(spark, p)
        # one warning per scheme per process — a maintenance loop must
        # not spam
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            C._acquire_lock(spark, self._schemed(fs, "s3a"), jvm_path, p, "op")
        C.release_lock(spark, p)

    def test_atomic_schemes_stay_silent(self, spark, tmp_path):
        import warnings

        from imitation_learning_data_pipeline_spark.pipeline import compact as C

        p = str(tmp_path / "w2")
        spark.range(5).write.parquet(p)
        fs, _ = C._fs(spark, p)
        jvm_path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            C._acquire_lock(spark, fs, jvm_path, p, "op")  # file://
            C.release_lock(spark, p)
            C._acquire_lock(spark, self._schemed(fs, "hdfs"), jvm_path, p, "op")
        C.release_lock(spark, p)


class TestSnapshotJournalAwareness:
    def test_snapshot_pins_recovered_not_torn_state(self, spark, tmp_path):
        """A crashed merge commit (staged file moved in, victim not yet
        retired, journal pending) must NOT be pinned as-is: the
        snapshot would hold duplicate keys forever. create_snapshot
        completes the journal first (r8), pinning the deduplicated
        committed state."""
        from imitation_learning_data_pipeline_spark.pipeline.snapshot import (
            create_snapshot,
            read_snapshot,
        )

        p = str(tmp_path / "sn")
        spark.range(0, 100).selectExpr("id", "id AS val").repartition(
            4
        ).write.parquet(p)
        files = sorted(
            f
            for f in os.listdir(p)
            if f.endswith(".parquet") and not f.startswith("_")
        )
        victim = os.path.join(p, files[0])
        victim_rows = {
            (r["id"], r["val"]) for r in spark.read.parquet(victim).collect()
        }
        tmp = p + "__merge_tmp"
        staged_rows = [(i, -7 if i == 7 else v) for (i, v) in victim_rows]
        spark.createDataFrame(staged_rows, ["id", "val"]).coalesce(
            1
        ).write.parquet(tmp)
        staged_file = next(
            f
            for f in os.listdir(tmp)
            if f.endswith(".parquet") and not f.startswith("_")
        )
        # crash state: staged replacement ALREADY moved in (the torn,
        # duplicate-key shape), victim not yet deleted, journal pending
        shutil.move(os.path.join(tmp, staged_file), os.path.join(p, staged_file))
        with open(os.path.join(p, "__merge_pending.json"), "w") as fh:
            json.dump({"add": [staged_file], "delete": [victim]}, fh)

        create_snapshot(spark, p, "pinned")
        pinned = read_snapshot(spark, p, "pinned")
        assert (
            pinned.groupBy("id").count().filter("count > 1").count() == 0
        ), "snapshot pinned the torn duplicate-key state"
        assert pinned.count() == 100
        got = {(r["id"], r["val"]) for r in pinned.collect()}
        base = {(i, i) for i in range(100)}
        if (7, 7) in victim_rows:
            base = (base - {(7, 7)}) | {(7, -7)}
        assert got == base
        assert not os.path.exists(os.path.join(p, "__merge_pending.json"))
