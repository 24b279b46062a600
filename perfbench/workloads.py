"""The benchmark's workloads: how each makes its inputs from a seed,
what chain it runs, and how its outputs are checked and counted.

A workload works in ``work`` (a directory of its own inside the
checkout): ``inputs/`` holds what set-up generated, ``run/`` is the
chain's working directory and ``run/out`` the pipeline's work root.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq

import checks
import inputs
import measure

# discover's actionable statuses (the package's ACTIONABLE_STATUSES),
# restated so the parent process never imports the package
ACTIONABLE = {"NEW", "CHANGED", "MISSING_SIDE", "DELETED", "ORPHAN_VIDEO", "PENDING", "ERROR"}
CURATION_STAGES = ("gopher", "pii", "dedup", "sample")


class Workload:
    name = ""
    kind = "lerobot"
    sizes: dict[str, dict] = {}

    def __init__(self, root: str, work: str, size: str, env: dict):
        self.root, self.work, self.env = root, work, env
        self.p = self.sizes[size]
        self.inputs = os.path.join(work, "inputs")
        self.run_dir = os.path.join(work, "run")
        self.out = os.path.join(self.run_dir, "out")

    def setup(self, seed: int) -> dict:
        """Generate this seed's inputs; return the facts checks need."""
        raise NotImplementedError

    def prepare(self) -> None:
        """Reset the chain's outputs (and restore any prior state)."""
        inputs.reset_dir(self.out)

    def spec(self) -> dict:
        return {"kind": self.kind, "data_root": os.path.join(self.inputs, "tree"),
                "work_root": self.out}

    def result_dir(self) -> str:
        return os.path.join(self.out, "dataset")

    def check(self, facts: dict) -> list[str]:
        raise NotImplementedError

    def counters(self, facts: dict, record: dict) -> dict[str, float]:
        raise NotImplementedError


class LeRobotWorkload(Workload):
    def expected_statuses(self, facts: dict) -> dict[str, int]:
        return {"NEW": len(facts["episodes"])}

    def check(self, facts: dict) -> list[str]:
        eps = facts["episodes"]
        tree = os.path.join(self.inputs, "tree")
        return (
            checks.check_manifest(f"{self.out}/manifest/episodes.parquet",
                                  self.expected_statuses(facts))
            + checks.check_failed_count(f"{self.out}/validation/summary.yaml", eps)
            + checks.check_stats(f"{self.out}/stats/global_stats.json", tree, eps)
            + checks.check_materialized(f"{self.out}/dataset/data", eps)
        )

    def counters(self, facts: dict, record: dict) -> dict[str, float]:
        status = pq.read_table(f"{self.out}/manifest/episodes.parquet",
                               columns=["status", "parquet_uri"])
        statuses = status.column("status").to_pylist()
        listed = sum(u is not None for u in status.column("parquet_uri").to_pylist())
        rows_in = sum(e["file_rows"] for e in facts["episodes"].values())
        rows_out = pq.ParquetDataset(f"{self.out}/normalized/data").read(
            columns=["episode_index"]).num_rows
        summaries = {v["verb"]: v["summary"] or {} for v in record["verbs"]}
        return {
            "pipeline.discover.files_listed": listed,
            "pipeline.discover.actionable_frac":
                sum(s in ACTIONABLE for s in statuses) / max(1, len(statuses)),
            "pipeline.validate.failed_episodes":
                checks.failed_episodes(f"{self.out}/validation/summary.yaml"),
            "pipeline.align.rows_out": rows_out,
            "pipeline.align.dropped_frac": 1.0 - rows_out / rows_in,
            "pipeline.materialize.files_written":
                len(checks.parquet_files(self.result_dir())),
            "pipeline.materialize.videos_placed":
                summaries.get("materialize", {}).get("videos_placed", 0),
            "pipeline.materialize.plain_read_ok": float(record.get("plain_read") == "ok"),
        }


class BulkLongEpisodes(LeRobotWorkload):
    """A fresh tree of long episodes with no prior manifest: row work in
    validate, stats, align and materialize weighs more than on the
    incremental workload. Runnable by name, but not listed in
    BENCHMARK.json: a third fresh-JVM workload does not fit the
    benchmark's run budget on a loaded host."""

    name = "bulk_long_episodes"
    sizes = {
        "full": {"episodes": 80, "frames": 2000},
        "smoke": {"episodes": 12, "frames": 200},
    }

    def setup(self, seed: int) -> dict:
        tree = inputs.reset_dir(os.path.join(self.inputs, "tree"))
        eps = inputs.lerobot_tree(tree, seed, self.p["episodes"], self.p["frames"])
        return {"episodes": eps}


class IncrementalAppend(LeRobotWorkload):
    """A prior manifest over many short episodes; the current tree adds
    NEW episodes, rewrites some (CHANGED) and removes some (DELETED).
    Per-file work dominates: listing, fingerprints, the manifest diff."""

    name = "incremental_append"
    sizes = {
        "full": {"episodes": 300, "frames": 100},
        "smoke": {"episodes": 40, "frames": 50},
    }
    BASE_SEED_OFFSET = 1_000_003
    DISCOVER_TIMEOUT_S = 120

    def setup(self, seed: int) -> dict:
        """The prior state, then the current tree. The prior state is a
        base tree and the manifest a previous ``cli discover`` wrote for
        it, built here in a fresh process as a user's previous run
        would have; the current tree links the base's unchanged
        episodes and adds the NEW and CHANGED ones."""
        inputs.reset_dir(self.inputs)
        base = os.path.join(self.inputs, "base")
        base_eps = inputs.lerobot_tree(base, seed + self.BASE_SEED_OFFSET,
                                       self.p["episodes"], self.p["frames"])
        prior_run = inputs.reset_dir(os.path.join(self.inputs, "prior_run"))
        try:
            with open(os.path.join(prior_run, "discover.log"), "w") as logf:
                subprocess.run(
                    [sys.executable, "-m", "imitation_learning_data_pipeline_spark.cli",
                     "discover", "--data-root", base,
                     "--manifest", os.path.join(self.inputs, "prior", "manifest",
                                                "episodes.parquet")],
                    cwd=prior_run, env=self.env, check=True, stdout=logf,
                    stderr=subprocess.STDOUT, timeout=self.DISCOVER_TIMEOUT_S,
                )
        finally:
            # the JVM outlives its Python parent briefly, and is orphaned
            # here if discover failed or timed out
            measure.reap_descendants()
        eps, statuses = inputs.incremental_tree(
            base, base_eps, os.path.join(self.inputs, "tree"), seed, self.p["frames"])
        return {"episodes": eps, "statuses": statuses}

    def prepare(self) -> None:
        if os.path.lexists(self.out):
            shutil.rmtree(self.out)
        os.makedirs(self.run_dir, exist_ok=True)
        shutil.copytree(os.path.join(self.inputs, "prior"), self.out)

    def expected_statuses(self, facts: dict) -> dict[str, int]:
        return facts["statuses"]


class WebCuration(Workload):
    """WARC ingest then the default curation funnel: the ingest and
    curation layers, none of the five pipeline stages."""

    name = "web_curation"
    kind = "web"
    sizes = {
        "full": {"docs": 1500, "replicas": 10, "files": 8},
        "smoke": {"docs": 150, "replicas": 4, "files": 2},
    }

    def setup(self, seed: int) -> dict:
        inputs.reset_dir(self.inputs)
        docs = os.path.join(self.inputs, "docs", "documents.parquet")
        inputs.documents_table(docs, seed, self.p["docs"])
        n = inputs.warc_corpus(os.path.join(self.inputs, "warc"), docs, seed,
                               self.p["replicas"], self.p["files"])
        return {"expected_docs": n}

    def spec(self) -> dict:
        return {"kind": self.kind, "warc_dir": os.path.join(self.inputs, "warc"),
                "ingested": os.path.join(self.out, "ingested"),
                "curated": os.path.join(self.out, "curated")}

    def result_dir(self) -> str:
        return os.path.join(self.out, "curated")

    def check(self, facts: dict) -> list[str]:
        return checks.check_web(os.path.join(self.out, "ingested"),
                                os.path.join(self.out, "curated"), facts["expected_docs"])

    def counters(self, facts: dict, record: dict) -> dict[str, float]:
        summaries = {v["verb"]: v["summary"] or {} for v in record["verbs"]}
        funnel = {s["stage"]: s for s in summaries.get("curate", {}).get("funnel", [])}
        out = {"plans.web.docs_out": summaries.get("ingest-warc", {}).get("docs", 0)}
        for stage in CURATION_STAGES:
            s = funnel.get(stage)
            out[f"plans.curation.{stage}.keep_frac"] = (
                s["rows_out"] / s["rows_in"] if s and s["rows_in"] else 0.0)
        return out


WORKLOADS = {w.name: w for w in (BulkLongEpisodes, IncrementalAppend, WebCuration)}
