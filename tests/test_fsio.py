"""The table layer's commit protocol lives in one module
(``pipeline/fsio.py``): a source-level guard that it stays there, and
the atomic JSON write on both of its arms."""

from __future__ import annotations

import ast
import json
import os
import re
from pathlib import Path

import pytest

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
