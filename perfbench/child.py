"""One benchmark chain in a fresh Python process (and so a fresh JVM).

Usage: ``python3 perfbench/child.py SPEC.json``. The spec names the
workload kind, its paths, whether to trace, and where to write the run
record. The chain runs the shipped CLI in-process through
``orchestration.run_pipeline`` with every task's retries set to 0, so a
failing stage fails the run at once instead of sleeping and retrying.

Timing: ``run_s`` runs from the start of the SparkSession until the
last verb returns; ``session_start_s`` is the session start alone and
``overhead_s`` is the chain's wall minus the sum of its verb walls.

With ``trace`` on, the library functions the verbs call are wrapped in
spans and each verb is bracketed by Spark status-store snapshots, whose
difference gives that verb's task time, I/O, shuffle and spill. Only
the benchmark's own code does this; the package is not modified.
"""

from __future__ import annotations

import contextlib
import dataclasses
import importlib
import io
import json
import re
import sys
import time
import traceback

from measure import STAGE_FIELDS, stage_delta

# (module, function) pairs the CLI verbs call; traced runs span them.
LIBRARY_CALLS = (
    ("pipeline.discover", "discover"),
    ("pipeline.validate", "validate_episodes"),
    ("pipeline.stats_stage", "episode_feature_stats"),
    ("pipeline.stats_stage", "combine_global_stats"),
    ("pipeline.align", "align_transform"),
    ("pipeline.materialize", "materialize"),
    ("pipeline.materialize", "place_videos"),
    ("plans.web", "ingest_warc_plan"),
    ("plans.curation", "curation_funnel"),
)
PACKAGE = "imitation_learning_data_pipeline_spark"


class Tracer:
    """In-memory spans: name, start, end and the enclosing span."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, module, attr: str) -> None:
        fn = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(attr):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)


def status_snapshot(spark) -> dict:
    """Per-stage counters and the job count from the status store."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    empty = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    seq = store.stageList(None, False, False, empty, None)
    stages = {}
    for i in range(seq.size()):
        s = seq.apply(i)
        stages[(s.stageId(), s.attemptId())] = {f: getattr(s, f)() for f in STAGE_FIELDS}
    return {"stages": stages, "jobs": store.jobsList(None).size()}


def lerobot_tasks(spec: dict):
    from imitation_learning_data_pipeline_spark.orchestration import pipeline_tasks

    return [
        dataclasses.replace(t, retries=0)
        for t in pipeline_tasks(spec["data_root"], spec["work_root"])
    ]


def web_tasks(spec: dict):
    from imitation_learning_data_pipeline_spark.orchestration import PipelineTask

    return [
        PipelineTask(
            "ingest_warc",
            ("ingest-warc", "--input", spec["warc_dir"], "--out", spec["ingested"]),
            retries=0,
        ),
        PipelineTask(
            "curate",
            ("curate", "--path", spec["ingested"], "--out", spec["curated"],
             "--min-stopwords", "0"),
            upstream=("ingest_warc",),
            retries=0,
        ),
    ]


def last_json_line(text: str):
    for line in reversed(text.splitlines()):
        line = line.strip()
        if line.startswith("{"):
            try:
                return json.loads(line)
            except ValueError:
                continue
    return None


def plain_read(spark, path: str) -> str:
    """Outcome of a plain ``spark.read.parquet`` of ``path``: "ok" or the
    error class of the failure."""
    try:
        spark.read.parquet(path).count()
        return "ok"
    except Exception as e:  # noqa: BLE001 — the outcome is the record
        m = re.search(r"\[([A-Z][A-Z_.]+)\]", str(e))
        return m.group(1) if m else type(e).__name__


def main(spec_path: str) -> int:
    with open(spec_path) as f:
        spec = json.load(f)
    from imitation_learning_data_pipeline_spark import cli, orchestration
    from imitation_learning_data_pipeline_spark.session import get_spark

    tracer = Tracer() if spec["trace"] else None
    if tracer:
        for mod, attr in LIBRARY_CALLS:
            tracer.wrap(importlib.import_module(f"{PACKAGE}.{mod}"), attr)

    t0 = time.perf_counter()
    spark = get_spark()
    session_start_s = time.perf_counter() - t0
    conf = spark.sparkContext.getConf()
    record = {
        "master": spark.sparkContext.master,
        "cores": spark.sparkContext.defaultParallelism,
        "heap": conf.get("spark.driver.memory", None),
        "session_start_s": session_start_s,
        "verbs": [],
    }

    def runner(argv):
        verb = argv[0]
        before = status_snapshot(spark) if tracer else None
        out = io.StringIO()
        rc = None
        t = time.perf_counter()
        try:
            span = tracer.span(f"cli.{verb}") if tracer else contextlib.nullcontext()
            with span, contextlib.redirect_stdout(out):
                rc = cli.main(list(argv))
            return rc
        except Exception:
            traceback.print_exc()
            raise
        finally:
            row = {"verb": verb, "wall_s": time.perf_counter() - t, "rc": rc,
                   "summary": last_json_line(out.getvalue())}
            sys.stdout.write(out.getvalue())
            if tracer:
                row["counters"] = stage_delta(before, status_snapshot(spark))
            record["verbs"].append(row)

    tasks = lerobot_tasks(spec) if spec["kind"] == "lerobot" else web_tasks(spec)
    t_chain = time.perf_counter()
    result = orchestration.run_pipeline(
        spec.get("data_root", ""), spec.get("work_root", ""), runner=runner, tasks=tasks
    )
    t_end = time.perf_counter()
    record.update(
        ok=result.ok,
        statuses=result.statuses,
        run_s=t_end - t0,
        chain_s=t_end - t_chain,
    )
    record["overhead_s"] = record["chain_s"] - sum(v["wall_s"] for v in record["verbs"])
    if tracer:
        record["spans"] = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in tracer.spans
        ]
        if spec["kind"] == "lerobot" and result.ok:
            record["plain_read"] = plain_read(spark, f"{spec['work_root']}/dataset/data")
    spark.stop()
    with open(spec["record"], "w") as f:
        json.dump(record, f)
    return 0 if result.ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
