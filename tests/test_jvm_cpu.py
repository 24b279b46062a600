"""tools/jvm_cpu.py: the thread classifier, the stat parser and one run."""

from __future__ import annotations

import json
import sys

import pytest

from conftest import REPO

sys.path.insert(0, str(REPO / "tools"))

import jvm_cpu  # noqa: E402


@pytest.mark.parametrize(
    "name, cls",
    [
        ("C2 CompilerThre", "c2"),
        ("C1 CompilerThre", "c1"),
        ("Executor task l", "tasks"),
        ("Thread-3", "py4j"),
        ("Thread-12", "py4j"),
        ("GC Thread#0", "gc"),
        ("G1 Conc#0", "gc"),
        ("G1 Main Marker", "gc"),
        ("G1 Refine#1", "gc"),
        ("G1 Service", "gc"),
        ("VM Thread", "jvm_other"),
        ("java", "jvm_other"),
        ("dag-scheduler-e", "jvm_other"),
        ("Thread-x", "jvm_other"),
        ("Sweeper thread", "jvm_other"),
    ],
)
def test_jvm_thread_names(name, cls):
    assert jvm_cpu.thread_class("java", name) == cls


@pytest.mark.parametrize("name", ["C2 CompilerThre", "Executor task l", "python3"])
def test_non_jvm_processes_ignore_thread_names(name):
    assert jvm_cpu.thread_class("python_worker", name) == "python_workers"
    assert jvm_cpu.thread_class("other", name) == "other"


@pytest.mark.parametrize(
    "argv, kind",
    [
        (["/usr/lib/jvm/java-17-openjdk-amd64/bin/java", "-cp", "x"], "java"),
        (["python3", "-m", "pyspark.daemon"], "python_worker"),
        (["/usr/bin/python", "-m", "pyspark.worker"], "python_worker"),
        (["python3", "perfbench/child.py", "spec.json"], "other"),
        (["javac", "A.java"], "other"),
        ([], "other"),
    ],
)
def test_process_kind(argv, kind):
    assert jvm_cpu.process_kind(argv) == kind


def test_parse_stat_reads_fields_after_the_last_paren():
    fields = " ".join(str(i) for i in range(3, 30))
    # ppid is field 4, utime/stime 14/15, starttime 22 (1-based)
    text = f"1234 (a) (b c) S {fields.split(' ', 1)[1]}\n"
    name, ppid, ticks, start = jvm_cpu.parse_stat(text)
    assert (name, ppid, ticks, start) == ("a) (b c", 4, 14 + 15, 22)


def test_a_busy_child_is_counted(capsys):
    busy = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass"
    assert jvm_cpu.main(["--interval", "0.05", "--", sys.executable, "-c", busy]) == 0
    out = json.loads(capsys.readouterr().out.splitlines()[-1])
    assert set(out["cpu_s"]) == set(jvm_cpu.CLASSES)
    assert out["cpu_s"]["other"] >= 0.3
    assert out["total_cpu_s"] == pytest.approx(sum(out["cpu_s"].values()), abs=0.05)
