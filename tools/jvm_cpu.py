"""CPU seconds of a command's process tree, split by thread class.

Runs a command and samples ``/proc/<pid>/task/*/stat`` of it and every
descendant until it exits, then prints the CPU (user + system) of each
thread class. A JVM's threads are told apart by name: the C2 and C1
JIT compilers, Spark's executor task threads, the py4j connection
threads the Python driver's calls run on, the garbage collector, and
the rest of the JVM. A ``pyspark.daemon`` / ``pyspark.worker`` process
counts as a Python worker; any other process (the Python driver, a
shell) as ``other``.

Usage::

    python3 tools/jvm_cpu.py [--interval 0.2] -- COMMAND [ARG...]

e.g. ``python3 tools/jvm_cpu.py -- python3 perfbench/run.py --workload
incremental_append --seed 21 --seconds 30``. The table goes to standard
error; the last line of standard output is one JSON object with
``cpu_s`` per class, ``total_cpu_s`` and ``wall_s``. The exit code is
the command's. A thread's CPU is its last sample, so a thread that
starts and ends between two samples is missed, as is at most one
interval of a thread that ends; Spark's task and worker pools keep
their threads, so the loss is small at the default interval.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import time

CLASSES = ("c2", "c1", "tasks", "py4j", "gc", "jvm_other", "python_workers", "other")

# (class, pattern on the kernel's thread name, which HotSpot truncates
# to 15 characters), first match wins.
JVM_THREADS = (
    ("c2", re.compile(r"C2 CompilerThre")),
    ("c1", re.compile(r"C1 CompilerThre")),
    ("tasks", re.compile(r"Executor task l")),
    # py4j's GatewayConnection threads keep the JVM's default names.
    ("py4j", re.compile(r"Thread-\d+")),
    ("gc", re.compile(r"GC Thread#\d+|G1 .*")),
)


def process_kind(argv: list[str]) -> str:
    """``java``, ``python_worker`` or ``other``, from a process's argv."""
    if argv and os.path.basename(argv[0]) == "java":
        return "java"
    if any(a in ("pyspark.daemon", "pyspark.worker") for a in argv):
        return "python_worker"
    return "other"


def thread_class(kind: str, name: str) -> str:
    """The class of one thread, from its process kind and thread name."""
    if kind == "python_worker":
        return "python_workers"
    if kind != "java":
        return "other"
    for cls, pattern in JVM_THREADS:
        if pattern.fullmatch(name):
            return cls
    return "jvm_other"


def parse_stat(text: str) -> tuple[str, int, int, int]:
    """(name, ppid, utime + stime in clock ticks, starttime) from the
    text of a ``/proc`` ``stat`` file. The name may hold spaces and
    parentheses, so the fields are read after its last ``)``."""
    open_i, close_i = text.index("("), text.rindex(")")
    fields = text[close_i + 2:].split()
    ticks = int(fields[11]) + int(fields[12])
    return text[open_i + 1:close_i], int(fields[1]), ticks, int(fields[19])


def _read(path: str, mode: str = "r"):
    try:
        with open(path, mode) as f:
            return f.read()
    except OSError:  # the process or thread has exited
        return None


class TreeSampler:
    """Last-seen CPU ticks of every thread of a process tree."""

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self.starts: dict[int, int] = {}  # pid -> starttime, of every process seen
        self.ticks: dict[tuple[int, int, int], tuple[str, int]] = {}

    def _tree(self) -> set[int]:
        """The root, the processes seen before that are still alive (an
        orphan is re-parented away from the tree), and their descendants."""
        children: dict[int, list[int]] = {}
        starts: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            text = _read(f"/proc/{entry}/stat")
            if text is None:
                continue
            _, ppid, _, start = parse_stat(text)
            children.setdefault(ppid, []).append(int(entry))
            starts[int(entry)] = start
        stack = [self.root_pid] + [p for p, s in self.starts.items() if starts.get(p) == s]
        found: set[int] = set()
        while stack:
            pid = stack.pop()
            if pid in starts and pid not in found:
                found.add(pid)
                stack.extend(children.get(pid, ()))
        self.starts.update((p, starts[p]) for p in found)
        return found

    def sample(self) -> None:
        for pid in self._tree():
            # argv is read every time: Spark's launcher script execs java
            raw = _read(f"/proc/{pid}/cmdline", "rb") or b""
            kind = process_kind([a.decode(errors="replace") for a in raw.split(b"\0") if a])
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                text = _read(f"/proc/{pid}/task/{tid}/stat")
                if text is not None:
                    name, _, ticks, _ = parse_stat(text)
                    key = (pid, self.starts[pid], int(tid))
                    self.ticks[key] = (thread_class(kind, name), ticks)

    def cpu_s(self) -> dict[str, float]:
        hz = os.sysconf("SC_CLK_TCK")
        out = dict.fromkeys(CLASSES, 0.0)
        for cls, ticks in self.ticks.values():
            out[cls] += ticks / hz
        return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--interval", type=float, default=0.2, help="seconds between samples")
    ap.add_argument("command", nargs=argparse.REMAINDER, help="-- COMMAND [ARG...]")
    args = ap.parse_args(argv)
    command = args.command[1:] if args.command[:1] == ["--"] else args.command
    if not command:
        ap.error("no command given")
    t0 = time.perf_counter()
    proc = subprocess.Popen(command)
    sampler = TreeSampler(proc.pid)
    while proc.poll() is None:
        sampler.sample()
        time.sleep(args.interval)
    wall_s = time.perf_counter() - t0
    cpu = sampler.cpu_s()
    total = sum(cpu.values())
    for cls in CLASSES:
        share = cpu[cls] / total if total else 0.0
        print(f"{cls:>15} {cpu[cls]:9.2f} s {share:6.1%}", file=sys.stderr)
    print(f"{'total':>15} {total:9.2f} s   wall {wall_s:.2f} s", file=sys.stderr)
    print(json.dumps({"cpu_s": {k: round(v, 2) for k, v in cpu.items()},
                      "total_cpu_s": round(total, 2), "wall_s": round(wall_s, 2),
                      "rc": proc.returncode}))
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
