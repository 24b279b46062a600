"""The table layer's commit protocol lives in one module
(``pipeline/fsio.py``): a source-level guard that it stays there, the
atomic JSON write on both of its arms, and the output-frame commit that
keeps a verb's previous output when its write fails."""

from __future__ import annotations

import ast
import json
import os
import re
from pathlib import Path

import pytest
from conftest import run_cli

from imitation_learning_data_pipeline_spark.pipeline import fsio

PKG = Path(fsio.__file__).resolve().parent.parent
FSIO = Path(fsio.__file__).resolve()


def _sources():
    return {p: p.read_text() for p in sorted(PKG.rglob("*.py"))}


def _rel(p: Path) -> str:
    return str(p.relative_to(PKG))


def test_commit_protocol_is_defined_only_in_fsio():
    """One definition each: the JVM small-file read, the Path handle,
    the small-file read/write, the journal write/recover and the staged
    directory swap — and one binding of the merge journal name."""
    srcs = _sources()
    for needle in ("IOUtils.toByteArray", "def _jvm_path("):
        where = [_rel(p) for p, s in srcs.items() if needle in s]
        assert where == ["pipeline/fsio.py"], (needle, where)
    for name in (
        "_read_bytes", "_read_json", "_write_json", "_write_journal",
        "_move_staged_in", "_recover_journal", "_swap_in", "_staged_swap",
        "_recover_staged_swap",
    ):
        pat = re.compile(rf"^\s*def {name}\(", re.M)
        where = [_rel(p) for p, s in srcs.items() if pat.search(s)]
        assert where == ["pipeline/fsio.py"], (name, where)
    bind = re.compile(r"""^\s*\w+\s*(?::[^=]+)?=\s*["']__merge_pending\.json["']""", re.M)
    where = [(_rel(p), len(bind.findall(s))) for p, s in srcs.items() if bind.search(s)]
    assert where == [("pipeline/fsio.py", 1)], where


def test_output_writes_go_through_commit_frame():
    """No verb or stage output is overwritten in place: each commits
    through ``fsio.commit_frame``, and the CLI never drives the staged
    swap itself."""
    srcs = _sources()
    for rel in (
        "cli.py", "pipeline/outputs.py", "pipeline/materialize.py",
        "streaming/discover_stream.py",
    ):
        src = srcs[PKG / rel]
        assert not re.search(r'\.write\s*\.mode\(\s*"overwrite"', src), rel
        assert "commit_frame(" in src, rel
    assert not re.search(r"\b_staged_swap\(", srcs[PKG / "cli.py"])


def test_a_failed_write_keeps_the_previous_output(spark, lerobot_fixture, tmp_path):
    """A verb whose write fails mid-job leaves the previous output
    readable, and the next clean run leaves no staging behind."""
    from pyspark.sql import functions as F

    from imitation_learning_data_pipeline_spark.pipeline import align

    out = tmp_path / "norm"
    argv = ["align-transform", "--data-root", str(lerobot_fixture),
            "--out", str(out), "--no-normalize"]
    assert run_cli(argv).returncode == 0
    rows = spark.read.parquet(f"{out}/data").count()
    assert rows > 0

    real = align.align_transform

    def failing(frames, stats_doc):
        @F.udf("long")
        def boom(ep):
            if ep == 12:
                raise ValueError("injected write failure")
            return ep

        return real(frames, stats_doc).withColumn(
            "episode_index", boom("episode_index")
        )

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(align, "align_transform", failing)
        res = run_cli(argv)
    assert res.returncode != 0
    assert "injected write failure" in res.stderr
    assert spark.read.parquet(f"{out}/data").count() == rows

    assert run_cli(argv).returncode == 0
    assert sorted(os.listdir(out)) == ["data"]


def test_fsio_imports_nothing_from_the_package():
    tree = ast.parse(FSIO.read_text())
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            assert node.level == 0, ast.dump(node)
            assert not (node.module or "").startswith("imitation_learning"), node.module
        elif isinstance(node, ast.Import):
            for a in node.names:
                assert not a.name.startswith("imitation_learning"), a.name


def test_write_json_replaces_in_place_and_cleans_up(spark, tmp_path):
    """Local arm: the target is replaced whole, a stale Hadoop checksum
    of the old bytes is dropped, and a failed replace leaves the old
    file and no tmp behind."""
    p = str(tmp_path / "d" / "meta.json")
    fs, _ = fsio._fs(spark, p)
    fsio._write_json(spark, fs, p, {"v": 1})
    crc = tmp_path / "d" / ".meta.json.crc"
    crc.write_bytes(b"stale")
    fsio._write_json(spark, fs, p, {"v": 2})
    assert fsio._read_json(spark, fs, p) == {"v": 2}
    assert not crc.exists()

    def boom(*a, **k):
        raise OSError("injected crash")

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(os, "replace", boom)
        with pytest.raises(OSError, match="injected crash"):
            fsio._write_json(spark, fs, p, {"v": 3})
    assert json.loads((tmp_path / "d" / "meta.json").read_text()) == {"v": 2}
    assert sorted(os.listdir(tmp_path / "d")) == ["meta.json"]
    with pytest.raises(FileNotFoundError):
        fsio._read_bytes(spark, fs, str(tmp_path / "d" / "absent.json"))


def test_jvm_replace_overwrites_an_existing_target(spark, tmp_path):
    """The non-``file:`` arm swaps through ``FileContext.rename`` with
    OVERWRITE, where ``FileSystem.rename`` refuses an existing target."""
    old, new = tmp_path / "a.json", tmp_path / "b.json"
    old.write_text('{"v": 1}')
    new.write_text('{"v": 2}')
    fs, _ = fsio._fs(spark, str(old))
    jvm_path = fsio._jvm_path(spark)
    assert not fs.rename(jvm_path(str(new)), jvm_path(str(old)))
    fsio._jvm_replace(spark, fs, jvm_path(str(new)), jvm_path(str(old)))
    assert json.loads(old.read_text()) == {"v": 2}
    assert not new.exists()
