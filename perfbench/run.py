"""End-to-end benchmark of the imitation-learning data pipeline.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload bulk_long_episodes --seed 1 \\
        --seconds 30 --trace 0 [--size full|smoke]

Each run sets up the workload's inputs from ``--seed`` (for
``incremental_append`` this includes the prior manifest's ``cli
discover`` in a fresh process; set-up is done at least
``SETUP_REPEATS`` times and reported as the median ``setup_s``), then
runs the workload's CLI chain in a fresh Python process, and so a fresh
JVM, at ``SPARK_GRAFT_CPUS=2`` with the repo on ``PYTHONPATH``. It
starts another chain only while one more fits in ``--seconds``. After
each chain the outputs are checked against independent computations; a
chain that fails a verb, raises or fails a check counts as failed and
is not timed.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json;
``--trace 1`` instead runs one untraced and one traced chain and prints
the per-layer metrics of the traced one, with the difference of the
two walls as the tracing overhead. Everything is written under ``.perfbench_work/`` in the
checkout. The last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

import checks
import measure
from workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "imitation_learning_data_pipeline_spark"
CPUS = "2"
# At least SETUP_REPEATS set-ups per timed run, and more (up to SETUP_MAX)
# until they take SETUP_MIN_S. Two, because an incremental_append set-up
# starts a JVM for the prior manifest (~15 s) and a run must stay short.
SETUP_REPEATS = 2
SETUP_MIN_S = 3.0
SETUP_MAX = 20
CHAIN_TIMEOUT_S = 120
VERB_FIELDS = ("wall_s", "self_s", "task_s", "task_cpu_s", "jobs", "input_mb",
               "shuffle_mb", "spill_mb", "output_mb")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def child_env(work: str) -> dict:
    """The chain's environment: the repo importable (Python workers
    unpickle package functions), two cores, and every temporary file
    inside the checkout. The JVM heap keeps the program's default."""
    tmp = os.path.join(work, "run", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_DRIVER_MEM", None)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=CPUS,
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONDONTWRITEBYTECODE="1",
    )
    return env


def run_chain(wl, trace: bool) -> dict:
    """One chain in a fresh process; returns its run record with the
    process tree's CPU and peak memory added."""
    wl.prepare()
    record_path = os.path.join(wl.run_dir, "record.json")
    if os.path.exists(record_path):
        os.remove(record_path)
    spec = dict(wl.spec(), trace=trace, record=record_path)
    spec_path = os.path.join(wl.run_dir, "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    tree = measure.ProcessTree()
    tree.start()
    t = time.perf_counter()
    with open(os.path.join(wl.run_dir, "chain.log"), "w") as logf:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "perfbench", "child.py"), spec_path],
            cwd=wl.run_dir, env=wl.env, stdout=logf, stderr=subprocess.STDOUT,
        )
        tree.watch()
        try:
            rc = proc.wait(timeout=CHAIN_TIMEOUT_S)
            grace_s = 20.0
        except subprocess.TimeoutExpired:
            proc.kill()
            rc = proc.wait()
            grace_s = 0.0  # kill what the chain left behind at once
    usage = tree.finish(grace_s)
    record = {"rc": rc, "process_s": time.perf_counter() - t, **usage}
    if os.path.exists(record_path):
        with open(record_path) as f:
            record.update(json.load(f))
    return record


def verb_rows(record: dict) -> dict[str, float]:
    """cli.<verb>.<field> for every verb the record ran."""
    spans = record.get("spans", [])
    self_s = measure.self_times(spans)
    verb_self = {s["name"][4:]: self_s[s["id"]] for s in spans if s["name"].startswith("cli.")}
    out = {}
    for v in record["verbs"]:
        row = {"wall_s": v["wall_s"], "self_s": verb_self.get(v["verb"], v["wall_s"]),
               **v.get("counters", {})}
        for k in VERB_FIELDS:
            out[f"cli.{v['verb']}.{k}"] = row.get(k, 0.0)
    return out


def layer_metrics(
    names: list[str], record: dict, counters: dict, calib_s: float, overhead_s: float
) -> dict:
    """Every per-layer metric in ``names``; layers the workload does not
    run read 0. A computed metric missing from ``names`` is an error."""
    out = dict.fromkeys(names, 0.0)
    out.update(verb_rows(record))
    for s in record.get("spans", []):
        if not s["name"].startswith("cli."):
            key = f"lib.{s['name']}.wall_s"
            out[key] = out.get(key, 0.0) + (s["end"] - s["start"])
    out.update(counters)
    out.update({
        "session.start_s": record["session_start_s"],
        "orchestration.overhead_s": record["overhead_s"],
        "process.peak_rss_mb": record["peak_rss_mb"],
        "trace.run_s": record["run_s"],
        "trace.overhead_s": overhead_s,
        "host.calib_s": calib_s,
    })
    unknown = sorted(set(out) - set(names))
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {unknown}")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.exists(bench_json):
        log(f"no {PACKAGE} package or BENCHMARK.json under {ROOT}; nothing to measure")
        return 2
    with open(bench_json) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.size}")
    os.makedirs(work, exist_ok=True)
    wl = WORKLOADS[args.workload](ROOT, work, args.size, child_env(work))
    measure.become_subreaper()

    # a traced run reports no setup_s, so it sets up once
    setup_times: list[float] = []
    while not setup_times or not args.trace and (
        len(setup_times) < SETUP_REPEATS
        or sum(setup_times) < SETUP_MIN_S and len(setup_times) < SETUP_MAX
    ):
        t = time.perf_counter()
        facts = wl.setup(args.seed)
        wl.prepare()
        setup_times.append(time.perf_counter() - t)

    def attempt(trace: bool) -> dict | None:
        """One checked chain; None when it failed."""
        calib = measure.calib_loop()
        rec = run_chain(wl, trace)
        problems = [] if rec.get("ok") else [f"chain failed: rc={rec['rc']} "
                                             f"statuses={rec.get('statuses')}"]
        if not problems:
            try:
                problems = wl.check(facts)
            except Exception as e:  # noqa: BLE001 — a check that cannot read the output fails
                problems = [f"check raised {type(e).__name__}: {e}"]
        rec.update(calib_s=calib, problems=problems, seed=args.seed,
                   workload=args.workload, trace=trace, setup_s=setup_times)
        with open(os.path.join(work, "runs.jsonl"), "a") as f:
            f.write(json.dumps({k: v for k, v in rec.items() if k != "spans"}) + "\n")
        log(f"{args.workload} seed={args.seed} trace={int(trace)} "
            f"run_s={rec.get('run_s', float('nan')):.2f} cpu_s={rec['cpu_s']:.1f} "
            f"mean_rss_mb={rec['mean_rss_mb']:.0f} peak_rss_mb={rec['peak_rss_mb']:.0f} "
            f"calib_s={calib:.3f} "
            f"master={rec.get('master')} heap={rec.get('heap')} "
            f"problems={problems}")
        if problems:
            with open(os.path.join(wl.run_dir, "chain.log"), errors="replace") as f:
                log("chain log tail:\n" + "".join(f.readlines()[-30:]))
            return None
        return rec

    metrics: dict[str, float] = {}
    if args.trace:
        # an untraced chain right before the traced one gives the
        # tracing overhead on the same inputs and the same host state
        plain, traced = attempt(False), attempt(True)
        attempted, failed = 2, (plain is None) + (traced is None)
        if plain is not None and traced is not None:
            overhead = traced["run_s"] - plain["run_s"]
            metrics = layer_metrics([m["name"] for m in wanted], traced,
                                    wl.counters(facts, traced), traced["calib_s"], overhead)
    else:
        # chains until one more would overrun --seconds (always at least one)
        recs: list[dict | None] = []
        t0 = time.perf_counter()
        while True:
            t = time.perf_counter()
            recs.append(attempt(False))
            now = time.perf_counter()
            if (now - t0) + (now - t) > args.seconds:
                break
        good = [r for r in recs if r is not None]
        attempted, failed = len(recs), len(recs) - len(good)
        if good:
            mb, files = checks.tree_size(wl.result_dir())
            metrics = {
                "run_s_p50": measure.median([r["run_s"] for r in good]),
                "cpu_s_p50": measure.median([r["cpu_s"] for r in good]),
                "mean_rss_mb": measure.median([r["mean_rss_mb"] for r in good]),
                "dataset_mb": mb,
                "dataset_files": files,
                "setup_s": measure.median(setup_times),
            }
            log(f"{len(good)} timed chain(s); setup_s samples={setup_times}")

    correct = failed == 0 and all(m["name"] in metrics for m in wanted)
    result = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
            for m in wanted if m["name"] in metrics
        },
    }
    log(f"invocation took {time.perf_counter() - t_start:.1f} s")
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
