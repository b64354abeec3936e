"""Self-tests of the benchmark; run from the checkout root with

    python3 -m pytest perfbench -q

The smoke and corpus tests start Spark (about a minute each); the rest
are pure Python.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
import workloads as W  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(*args, cwd=ROOT) -> subprocess.CompletedProcess:
    """Run the benchmark the way BENCHMARK.json's command does."""
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace,section", [(False, "end_to_end"),
                                           (True, "per_layer")])
def test_metric_specs_match_benchmark_json(trace, section):
    declared = {m["name"]: (m["unit"], m["better"])
                for m in _benchmark_json()[section]}
    assert declared == run.metric_specs(trace)


def test_workloads_match_benchmark_json():
    names = [w["name"] for w in _benchmark_json()["workloads"]]
    assert sorted(names) == sorted(W.WORKLOADS)


def _reference() -> dict:
    # three clusters over six clips
    return {"c1": "c1", "c2": "c1", "c3": "c3", "c4": "c3", "c5": "c5",
            "c6": "c5"}


def test_relabelled_clusters_pass_the_check():
    got = {k: "L" + v for k, v in _reference().items()}
    assert W.agreement(got, _reference()) == 1.0


def test_moved_clip_fails_the_check_and_counts_as_failed():
    ref = _reference()
    moved = dict(ref, c2="c3")  # c2 leaves {c1, c2} for {c3, c4}
    agree = W.agreement(moved, ref)
    # c1, c2, c3 and c4 all sit in clusters that differ from the reference
    assert agree == pytest.approx(2 / 6)
    results = [
        {"ok": True, "wall_s": 1.0, "agreement": 1.0,
         "window": {"cpu_s": 2.0, "peak_rss_mb": 10.0},
         "recall": {"x": (1, 1)}},
        {"ok": agree == 1.0, "wall_s": 1.0,
         "agreement": agree, "window": {"cpu_s": 2.0, "peak_rss_mb": 10.0},
         "recall": {"x": (0, 1)}},
    ]
    assert run.summarize(results) == (2, 1)
    e2e = run.end_to_end(results, setup_s=1.0, n_clips=6)
    assert e2e["pass_ratio"] == 0.5
    assert e2e["cluster_agreement"] == pytest.approx(2 / 6)


def test_missing_clip_fails_the_check():
    ref = _reference()
    got = {k: v for k, v in ref.items() if k != "c6"}
    assert W.agreement(got, ref) < 1.0


def test_planted_pairs_from_clip_ids():
    ids = ["doc00000001r00", "doc00000001r01", "doc00000001r02",
           "a00000005b", "a00000005t", "a00000005z", "a00000006q"]
    pairs = W.planted_pairs(ids)
    assert pairs["x"] == [("doc00000001r00", "doc00000001r01")]
    assert sorted(pairs["t"] + pairs["z"]) == [
        ("a00000005b", "a00000005t"), ("a00000005b", "a00000005z")]
    assert pairs["q"] == []  # its source clip is absent


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _run("--workload", "text_nearvar", "--seed", "1", "--seconds", "1",
               "--trace", "0", cwd=tmp_path)
    assert out.returncode != 0
    assert out.stdout.strip() == ""


def test_corpus_matches_the_fixture_generators(tmp_path):
    """perfbench/corpus.py reproduces fixtures.bench_clips_df and
    fixtures.audio_dup_clips_df row for row."""
    from locality_sensitive_hashing_spark import fixtures

    import corpus as C

    saved = dict(os.environ)
    run._setup_env(str(tmp_path / "work"))
    spark = run.start_spark(str(tmp_path / "work"), 2, False)
    try:
        sf = tmp_path / "sf"
        sf.mkdir()
        C.documents(5, 40).to_parquet(sf / "documents.parquet", index=False)
        cases = [
            (C.text_nearvar(5, 40),
             fixtures.bench_clips_df(spark, str(sf), replicate=C.REPLICATE,
                                     seed=5)),
            (C.audio_families(5, 40),
             fixtures.audio_dup_clips_df(spark, str(sf), seed=5, limit=40,
                                         republish_every=C.REPUBLISH_EVERY,
                                         gain_every=C.GAIN_EVERY,
                                         dur_ms=1000)),
        ]
        for mine, theirs in cases:
            a = mine.sort_values("clip_id").reset_index(drop=True)
            b = theirs.toPandas().sort_values("clip_id").reset_index(drop=True)
            for col in C.COLUMNS:
                assert a[col].tolist() == b[col].tolist(), col
    finally:
        run.stop_spark(spark)
        os.environ.clear()
        os.environ.update(saved)


@pytest.mark.parametrize("workload,trace", [("text_nearvar", 0),
                                            ("audio_families", 0),
                                            ("text_nearvar", 1)])
def test_smoke(workload, trace):
    """A tiny-size run prints exactly BENCHMARK.json's metrics and passes
    the reference check (the traced text run includes the fold)."""
    out = _run("--workload", workload, "--seed", "7", "--seconds", "1",
               "--trace", str(trace), "--scale", "0.04")
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    section = "per_layer" if trace else "end_to_end"
    declared = {m["name"]: m["unit"] for m in _benchmark_json()[section]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == declared
    if not trace:
        assert res["metrics"]["cluster_agreement"]["value"] == 1.0
