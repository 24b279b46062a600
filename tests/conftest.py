from __future__ import annotations

import math
import sys
import uuid
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SF_DIR = "/root/testdata/sf0.001"


def make_minimal_mp4(nb_frames: int, fps: float = 30.0, mdhd_v1: bool = False) -> bytes:
    """A syntactically valid ISO-BMFF file with one video track carrying
    real stts/stsz/mdhd metadata (nb_frames at the given fps) and no
    sample data — what the pure-Python S9 probe fallback reads. Spec:
    ISO/IEC 14496-12 (public)."""
    import struct

    def box(typ: bytes, body: bytes) -> bytes:
        return struct.pack(">I4s", 8 + len(body), typ) + body

    timescale = 30000
    delta = int(round(timescale / fps))
    dur = nb_frames * delta
    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2mp41")
    mvhd = box(
        b"mvhd",
        struct.pack(">BxxxIIII", 0, 0, 0, 1000, int(nb_frames / fps * 1000))
        + struct.pack(">IHH8x", 0x00010000, 0x0100, 0)
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24
        + struct.pack(">I", 2),
    )
    if mdhd_v1:
        mdhd = box(
            b"mdhd",
            struct.pack(">BxxxQQIQHH", 1, 0, 0, timescale, dur, 0x55C4, 0),
        )
    else:
        mdhd = box(
            b"mdhd", struct.pack(">BxxxIIIIHH", 0, 0, 0, timescale, dur, 0x55C4, 0)
        )
    hdlr = box(b"hdlr", struct.pack(">Bxxx4x4s12x", 0, b"vide") + b"\x00")
    stts = box(b"stts", struct.pack(">BxxxIII", 0, 1, nb_frames, delta))
    stsz = box(b"stsz", struct.pack(">BxxxIII", 0, 0, nb_frames, 0))
    stbl = box(b"stbl", stts + stsz)
    minf = box(b"minf", stbl)
    mdia = box(b"mdia", mdhd + hdlr + minf)
    trak = box(b"trak", mdia)
    moov = box(b"moov", mvhd + trak)
    return ftyp + moov + box(b"mdat", b"")


@pytest.fixture(scope="session")
def spark():
    from imitation_learning_data_pipeline_spark.session import get_spark

    s = get_spark("pytest", master="local[4]", shuffle_partitions=4)
    yield s


class CliResult:
    """subprocess.CompletedProcess-shaped result for `run_cli`."""

    def __init__(self, returncode: int, stdout: str, stderr: str):
        self.returncode = returncode
        self.stdout = stdout
        self.stderr = stderr


def run_cli(args: list[str]) -> CliResult:
    """Drive `cli.main(argv)` IN-PROCESS on the shared pytest session,
    mimicking the subprocess contract (captured stdout/stderr text,
    returncode; an uncaught exception becomes returncode 1 with the
    traceback on stderr, exactly what a `python -m ... cli` subprocess
    surfaces). The suite used to spawn a fresh interpreter + JVM per
    CLI assertion — each one re-paid ~20-25 s of session startup and
    cold whole-stage-codegen JIT, which is harness cost, not coverage
    (the arg parsing, command logic and stdout contract are identical
    in-process). One genuine `python -m` subprocess smoke test remains
    (TestProfileCli) to cover the module entry point itself."""
    import contextlib
    import io
    import traceback

    from imitation_learning_data_pipeline_spark.cli import main

    out, err = io.StringIO(), io.StringIO()
    with contextlib.redirect_stdout(out), contextlib.redirect_stderr(err):
        try:
            rc = main(args)
        except SystemExit as e:
            # mirror CPython: int code passes through (argparse exits
            # 2), None is 0, any other payload prints to stderr + rc 1
            if e.code is None or isinstance(e.code, int):
                rc = e.code or 0
            else:
                print(e.code, file=err)
                rc = 1
        except BaseException:
            traceback.print_exc(file=err)
            rc = 1
    return CliResult(rc if rc is not None else 0, out.getvalue(), err.getvalue())


@dataclass
class Work:
    jobs: int
    input_bytes: int


def measured(spark, action) -> Work:
    """Jobs launched, and stage input bytes read, by ``action()``."""
    sc = spark.sparkContext
    group = f"measured-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    stage_ids = {s for j in job_ids for s in tracker.getJobInfo(j).stageIds}
    store = sc._jsc.sc().statusStore()
    empty = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    stages = store.stageList(None, False, False, empty, None)
    input_bytes = 0
    for i in range(stages.size()):
        st = stages.apply(i)
        if st.stageId() in stage_ids:
            input_bytes += st.inputBytes()
    return Work(len(job_ids), input_bytes)


@pytest.fixture(scope="session")
def lerobot_fixture(tmp_path_factory):
    """LeRobot-shaped fixture tree (FIXTURES.md §B): per-episode parquet
    files under data/chunk-000/, fake mp4s under videos/, episodes meta.

    Injected defects (seed 42, deterministic):
      ep 3  — duplicated frame_index rows (dedup keep-first target)
      ep 5  — a NaN timestamp row (null-drop target)
      ep 7  — one action vector of width 5 (width-filter target)
      ep 11 — frame_index out of order (monotonicity failure)
      ep 13 — meta length off by 5 (> ±2 tolerance failure)
      ep 17 — missing wrist video (MISSING_SIDE)
      ep 19 — orphan video, no parquet (ORPHAN_VIDEO)
    """
    rng = np.random.default_rng(42)
    root = tmp_path_factory.mktemp("lerobot")
    n_eps = 20
    data_dir = root / "data" / "chunk-000"
    data_dir.mkdir(parents=True)
    meta_rows = []
    ep_rows: dict[int, int] = {}
    global_index = 0
    for ep in range(n_eps):
        if ep == 19:
            continue  # orphan video only
        n = int(rng.integers(40, 80))
        fi = np.arange(n)
        ts = fi / 30.0
        action = rng.normal(0, 1, size=(n, 8)).astype(np.float32)
        state = rng.normal(5, 2, size=(n, 8)).astype(np.float32)
        pdf = pd.DataFrame(
            {
                "action": list(action),
                "observation.state": list(state),
                "timestamp": ts,
                "frame_index": fi,
                "episode_index": np.full(n, ep),
                "index": np.arange(global_index, global_index + n),
                "task_index": np.zeros(n, dtype=np.int64),
            }
        )
        global_index += n
        if ep == 3:  # duplicate frame_index 10 (second copy differs)
            dup = pdf.iloc[[10]].copy()
            dup["action"] = [np.full(8, 99.0, dtype=np.float32)]
            pdf = pd.concat([pdf.iloc[:11], dup, pdf.iloc[11:]]).reset_index(drop=True)
        if ep == 5:
            pdf.loc[7, "timestamp"] = math.nan
        if ep == 7:
            pdf.at[4, "action"] = np.zeros(5, dtype=np.float32)
        if ep == 11:
            pdf.loc[[2, 3], "frame_index"] = [3, 2]
        meta_rows.append(
            {
                "episode_index": ep,
                "tasks": ["pick cube place box"],
                "length": len(pdf) + (5 if ep == 13 else 0),
            }
        )
        pdf.to_parquet(data_dir / f"episode_{ep:06d}.parquet", index=False)
        ep_rows[ep] = len(pdf)

    for cam in ("cam_front", "cam_wrist"):
        vdir = root / "videos" / "chunk-000" / cam
        vdir.mkdir(parents=True)
        for ep in list(range(n_eps)):
            if ep == 17 and cam == "cam_wrist":
                continue
            if ep == 19 and cam == "cam_wrist":
                continue
            # Real minimal MP4 metadata (frame count matching the episode
            # parquet at 30 fps) so the ffprobe-less pure-Python probe
            # path is exercised end-to-end.
            (vdir / f"episode_{ep:06d}.mp4").write_bytes(
                make_minimal_mp4(ep_rows.get(ep, 50), 30.0)
            )

    meta_dir = root / "meta"
    meta_dir.mkdir()
    with open(meta_dir / "episodes.jsonl", "w") as f:
        for row in meta_rows:
            import json

            f.write(json.dumps(row) + "\n")
    return root


@pytest.fixture(scope="session")
def frames(spark, lerobot_fixture):
    return spark.read.parquet(str(lerobot_fixture / "data" / "chunk-000"))


@pytest.fixture(scope="session")
def episodes_meta(spark, lerobot_fixture):
    return spark.read.json(str(lerobot_fixture / "meta" / "episodes.jsonl"))
