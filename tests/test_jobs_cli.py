"""REAL spark-submit deployment smoke: the jobs must run as shipped --
`spark-submit --py-files lshdedup.zip jobs/<job>.py ...` from a cwd
OUTSIDE the repo, so every package import resolves from the zip (a
stale or incomplete zip fails here at runtime, not just in the
freshness diff) and the north rule's "ships as a spark-submit
--py-files job, resumable across reruns" is exercised on its actual
wiring instead of in-process imports."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from locality_sensitive_hashing_spark.config import DEFAULT_CONFIG
from locality_sensitive_hashing_spark.fixtures import make_clips
from locality_sensitive_hashing_spark.oracle import run_oracle

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or os.path.join(
    os.path.dirname(sys.executable), "spark-submit")

_SCHEMA = pa.schema([
    ("clip_id", pa.string()), ("bytes", pa.binary()),
    ("sr_hz", pa.int32()), ("dur_ms", pa.int32()),
    ("codec", pa.string()), ("transcript", pa.string()),
])


def _submit(tmp_path, script, *args):
    """Run one spark-submit from INSIDE tmp_path (not the repo root --
    imports must come from the zip) and return the job's JSON tail."""
    cmd = [
        SPARK_SUBMIT, "--master", "local[4]",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--py-files", os.path.join(REPO, "lshdedup.zip"),
        os.path.join(REPO, "jobs", script), *args,
    ]
    env = dict(os.environ,
               PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable)
    r = subprocess.run(cmd, cwd=str(tmp_path), env=env,
                       capture_output=True, text=True, timeout=420)
    assert r.returncode == 0, f"{script} failed:\n{r.stdout[-2000:]}\n{r.stderr[-2000:]}"
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("{")]
    assert lines, f"no JSON status line from {script}:\n{r.stdout[-1000:]}"
    return json.loads(lines[-1])


@pytest.mark.skipif(not os.path.exists(SPARK_SUBMIT) and not shutil.which(
    "spark-submit"), reason="spark-submit not on PATH")
def test_dedup_job_spark_submit_and_resume(tmp_path):
    clips, _ = make_clips(40, seed=47)
    src = os.path.join(str(tmp_path), "clips.parquet")
    pq.write_table(
        pa.Table.from_pandas(clips, schema=_SCHEMA, preserve_index=False), src)
    wd = os.path.join(str(tmp_path), "run1")

    out = _submit(tmp_path, "dedup.py", "--input", src, "--workdir", wd)
    assert out["status"] == "ok"
    assert out["n_rows"] == len(clips)
    assert out["executed_stages"] and not out["skipped_stages"]
    assert os.path.isdir(os.path.join(wd, "clusters"))

    # the shipped job runs the reference DAG: every clip's committed
    # cluster equals the numpy oracle's (the corpus plants a gain pair
    # only the fingerprint detector can pair)
    got = pq.read_table(os.path.join(wd, "clusters")).to_pandas()
    exp = run_oracle(clips, DEFAULT_CONFIG).clusters
    assert dict(zip(got.clip_id, got.cluster_id)) == dict(
        zip(exp.clip_id, exp.cluster_id))

    # resume ACROSS spark-submit processes: a rerun on the same workdir
    # skips every committed stage and reports identical row count
    out2 = _submit(tmp_path, "dedup.py", "--input", src, "--workdir", wd)
    assert out2["n_rows"] == out["n_rows"]
    assert not out2["executed_stages"]
    assert set(out2["skipped_stages"]) == set(out["executed_stages"])


@pytest.mark.skipif(not os.path.exists(SPARK_SUBMIT) and not shutil.which(
    "spark-submit"), reason="spark-submit not on PATH")
def test_continuous_dedup_spark_submit(tmp_path):
    clips, _ = make_clips(30, seed=53)
    in_dir = os.path.join(str(tmp_path), "landing")
    os.makedirs(in_dir)
    pq.write_table(
        pa.Table.from_pandas(clips, schema=_SCHEMA, preserve_index=False),
        os.path.join(in_dir, "f0.parquet"))
    store = os.path.join(str(tmp_path), "intake")
    wd = os.path.join(str(tmp_path), "clusters")

    out = _submit(tmp_path, "continuous_dedup.py",
                  "--in", in_dir, "--store", store, "--clusters", wd)
    assert out["status"] == "ok"
    assert out["processed"] == [0]
    assert out["n_assigned"] > 0
    assert os.path.exists(os.path.join(wd, "state.json"))
