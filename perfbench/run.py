#!/usr/bin/env python3
"""Dedup-pipeline benchmark, run from the root of a source checkout.

    python3 perfbench/run.py --workload text_nearvar --seed 1 \
        --seconds 30 --trace 0

Set-up builds the workload's clips corpus from ``--seed``
(perfbench/corpus.py) and the numpy-oracle reference clustering while the
Spark JVM starts.  Then ``DedupPipeline.run`` runs on ``local[<cores>]``,
each run on a fresh ``TableIO`` directory so resume never skips a stage,
while the next run is expected to end within ``--seconds`` (at least
once), and every run's committed clusters are checked against the
reference.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``.  The line before it carries the
run's diagnostics (set-up phases, host load, neighbour and steal cores,
recall by planted class).
``--trace 1`` also writes the spans to ``.perfbench/traces/`` and, on
``text_nearvar``, runs the incremental fold loop (perfbench/fold.py).

Everything the run writes lives under ``.perfbench/`` in the checkout.
Exit code 2 when the package to benchmark is not in the working
directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import procstat
import workloads as W
from spans import Tracer

# name -> (unit, better); the order is the print order
END_TO_END = {
    "setup_s": ("s", "lower"),
    "wall_s": ("s", "lower"),
    "clips_per_s": ("1/s", "higher"),
    "cpu_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "cluster_agreement": ("ratio", "higher"),
    "dup_pair_recall": ("ratio", "higher"),
    "pass_ratio": ("ratio", "higher"),
}

# committed stage table -> per-layer metric of its commit span
STAGE_SPANS = {
    "keyed": "textgroup.keyed_s",
    "audio_classes": "textgroup.audio_classes_s",
    "signatures": "minhash.signatures_s",
    "fingerprints": "simhash.fingerprints_s",
    "candidates": "candidates.candidates_s",
    "text_verified": "verify.text_verified_s",
    "verified": "verify.verified_s",
    "clusters": "connected_components.clusters_s",
}
# a run must end within RUN_LIMIT_S; the traced fold costs about
# FOLD_COST times the pipeline run before it (measured: 77 s vs 36 s)
RUN_LIMIT_S = 170
FOLD_COST = 2.2
EDGE_KINDS = ("chain", "within", "cross", "audio_content", "audio_gain")


def _per_layer() -> dict:
    s, c, r = ("s", "lower"), ("count", "lower"), ("ratio", "higher")
    m = {name: s for name in STAGE_SPANS.values()}
    m.update({
        "textgroup.class_ratio": ("ratio", "lower"),
        "textgroup.distinct_texts": c,
        "candidates.pairs": c,
        "candidates.dropped_buckets": c,
        "verify.text_ok_ratio": r,
        "verify.is_dup_ratio": r,
        **{f"verify.edges.{k}": ("count", "higher") for k in EDGE_KINDS},
        "connected_components.clusters": c,
        **{f"sources.bytes_written.{t}": ("B", "lower") for t in STAGE_SPANS},
        "sources.commit_count": c,
        "incremental.ingest_s": s,
        "maintenance.run_s": s,
        "maintenance.view_read_s": s,
        "maintenance.bootstrap_s": s,
        "maintenance.mapping_rows": c,
        "maintenance.delta_rows": c,
        **{f"spark.{k}.{span}": c for k in ("jobs", "tasks")
           for span in ("pipeline", "ingest", "maintain")},
        "udf.python_cpu_s": s,
        "jvm.cpu_s": s,
        "driver.cpu_s": s,
        **{f"recall.planted_pairs.{k}": ("count", "higher")
           for k in W.PLANTED_CLASSES},
        **{f"recall.merged_pairs.{k}": ("count", "higher")
           for k in W.PLANTED_CLASSES},
        "clusters.multi_source": c,
        "clusters.max_sources": c,
        "trace.wall_s": s,
        "trace.overhead_s": s,
    })
    return m


def metric_specs(trace: bool) -> dict:
    return _per_layer() if trace else dict(END_TO_END)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def _setup_env(work: str) -> None:
    """Point every scratch path of Spark, the JVM and Python at the work
    directory, before pyspark is imported."""
    for d in ("local", "tmp", "warehouse", "cache", "runs", "traces"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher's included
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # 2 GiB heap: the workloads are small, and the session default (16g)
    # can exceed a small host's memory
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    root = os.getcwd()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p)
    tempfile.tempdir = None  # re-read TMPDIR


def start_spark(work: str, nparts: int, trace: bool):
    from locality_sensitive_hashing_spark.session import get_spark

    conf = {
        # the heap is fixed and pre-touched, as a production driver's is,
        # so peak memory moves with what the program allocates outside it
        # (off-heap buffers, metaspace, Python workers) rather than with
        # the collector's heap-growth heuristics
        "spark.driver.extraJavaOptions": "-Xms2g -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:  # keep every job of a traced run in the status tracker
        conf["spark.ui.retainedJobs"] = "20000"
        conf["spark.ui.retainedStages"] = "40000"
    return get_spark(f"local[{nparts}]", app_name="perfbench",
                     shuffle_partitions=nparts, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM's children."""
    from pyspark import SparkContext

    kids = procstat.subtree(os.getpid(), procstat.proc_table())[1:]
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 -- fall through to the kill below
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 20
    while time.time() < deadline:
        alive = [p for p in kids if procstat.running(p)]
        if not alive:
            return
        time.sleep(0.2)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _layer_counts(spark, run_dir: str, n_clips: int) -> dict:
    """Row counts of the committed stage tables (after the timed run)."""
    from pyspark.sql import functions as F

    from locality_sensitive_hashing_spark.sources.tables import TableIO

    io = TableIO(spark, run_dir)
    keyed = io.read("keyed")
    tv = io.read("text_verified")
    ver = io.read("verified")
    n_tv = tv.count()
    n_ver = ver.count()
    edges = {r["kind"]: r["n"] for r in ver.where("is_dup").groupBy("kind")
             .agg(F.count("*").alias("n")).collect()}
    out = {
        "textgroup.class_ratio":
            keyed.select("audio_key").distinct().count() / max(n_clips, 1),
        "textgroup.distinct_texts": io.read("signatures").count(),
        "candidates.pairs": io.read("candidates").count(),
        "candidates.dropped_buckets": (io.read("dropped_buckets").count()
                                       if io.exists("dropped_buckets") else 0),
        "verify.text_ok_ratio":
            tv.where("text_ok").count() / n_tv if n_tv else 0.0,
        "verify.is_dup_ratio":
            ver.where("is_dup").count() / n_ver if n_ver else 0.0,
        "connected_components.clusters":
            io.read("clusters").select("cluster_id").distinct().count(),
    }
    for k in EDGE_KINDS:
        out[f"verify.edges.{k}"] = int(edges.get(k, 0))
    for t in STAGE_SPANS:
        out[f"sources.bytes_written.{t}"] = io.data_bytes(t)
    return out


def one_run(spark, clips, n_clips, ref, pairs, sampler, run_dir, tracer):
    """One timed pipeline run and its check; returns a result dict."""
    from locality_sensitive_hashing_spark.config import DEFAULT_CONFIG
    from locality_sensitive_hashing_spark.plans.pipeline import DedupPipeline
    from locality_sensitive_hashing_spark.sources.tables import TableIO

    shutil.rmtree(run_dir, ignore_errors=True)
    io = TableIO(spark, run_dir)
    pipe = DedupPipeline(spark, DEFAULT_CONFIG, io, run_id="perfbench")
    sampler.mark()
    t0 = time.perf_counter()
    if tracer is None:
        pipe.run(clips)
    else:
        span = tracer.start("pipeline")
        tracer.wrap_tableio(io, span)
        before = tracer.job_ids()
        try:
            pipe.run(clips)
        finally:
            tracer.end(span)
    wall = time.perf_counter() - t0
    if tracer is not None:
        span["spark_jobs"], span["spark_tasks"] = tracer.jobs_since(before)
    win = sampler.window()
    pdf = io.read("clusters").select("clip_id", "cluster_id").toPandas()
    got = dict(zip(pdf["clip_id"], pdf["cluster_id"]))
    agree = W.agreement(got, ref)
    res = {
        "wall_s": wall, "window": win,
        "agreement": agree, "ok": agree == 1.0,
        "recall": W.recall(got, pairs),
        "multi_source": W.multi_source_clusters(got),
    }
    if tracer is not None:
        res["layers"] = {
            **{m: tracer.seconds(f"write:{t}")
               for t, m in STAGE_SPANS.items()},
            "sources.commit_count": (tracer.count("write:", span)
                                     + tracer.count("append:", span)),
            "spark.jobs.pipeline": span["spark_jobs"],
            "spark.tasks.pipeline": span["spark_tasks"],
            **_layer_counts(spark, run_dir, n_clips),
        }
    shutil.rmtree(run_dir, ignore_errors=True)
    return res


def summarize(results: list[dict]) -> tuple[int, int]:
    """(attempted, failed): a run fails when it raised or its clusters
    differ from the reference."""
    return len(results), sum(1 for r in results if not r.get("ok"))


def end_to_end(results, setup_s: float, n_clips: int) -> dict:
    """Medians over the runs that completed (failed ones count only in
    ``pass_ratio`` and, by their agreement, ``cluster_agreement``)."""
    good = [r for r in results if "wall_s" in r]
    wall = statistics.median(r["wall_s"] for r in good)
    merged = sum(m for m, _ in good[0]["recall"].values())
    planted = sum(p for _, p in good[0]["recall"].values())
    attempted, failed = summarize(results)
    return {
        "setup_s": setup_s,
        "wall_s": wall,
        "clips_per_s": n_clips / wall,
        "cpu_s": statistics.median(r["window"]["cpu_s"] for r in good),
        "peak_rss_mb": max(r["window"]["peak_rss_mb"] for r in good),
        "cluster_agreement": min(r["agreement"] for r in good),
        "dup_pair_recall": merged / planted if planted else 1.0,
        "pass_ratio": (attempted - failed) / attempted,
    }


def per_layer(r: dict, fold: dict, tracer: Tracer) -> dict:
    """The first completed run's layer numbers, plus the fold's."""
    win = r["window"]["cpu_by_kind"]
    out = dict.fromkeys(_per_layer(), 0)
    out.update(r["layers"])
    out.update({k: v for k, v in fold.items() if k in out})
    out.update({
        "udf.python_cpu_s": win["python"],
        "jvm.cpu_s": win["jvm"],
        "driver.cpu_s": win["driver"],
        "clusters.multi_source": r["multi_source"][0],
        "clusters.max_sources": r["multi_source"][1],
        "trace.wall_s": r["wall_s"],
        "trace.overhead_s": tracer.overhead_s,
    })
    for k in W.PLANTED_CLASSES:
        merged, planted = r["recall"][k]
        out[f"recall.planted_pairs.{k}"] = planted
        out[f"recall.merged_pairs.{k}"] = merged
    return out


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="corpus size factor (self-tests use a small one)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(
            root, "locality_sensitive_hashing_spark", "plans", "pipeline.py")):
        print("perfbench: run from the root of a checkout of the package "
              "(locality_sensitive_hashing_spark/ not found)", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench")
    _setup_env(work)
    sys.path.insert(0, root)

    wl = W.WORKLOADS[args.workload]
    trace = bool(args.trace)
    nparts = cores()
    t_setup = time.perf_counter()
    spark = None
    try:
        # the corpus and the reference are built while the JVM starts
        with ThreadPoolExecutor(max_workers=1) as pool:
            prep = pool.submit(prepare, wl, args.seed, args.scale,
                               os.path.join(work, "cache"), root)
            spark = start_spark(work, nparts, trace)
            spark_start_s = time.perf_counter() - t_setup
            inputs = prep.result()
        setup_s = time.perf_counter() - t_setup
        inputs["phases"]["spark_start_s"] = spark_start_s
        return _measure(spark, args, wl, trace, nparts, work, inputs, setup_s,
                        t_setup)
    finally:
        if spark is not None:
            stop_spark(spark)


def prepare(wl, seed: int, scale: float, cache: str, root: str) -> dict:
    """The workload's corpus (parquet path) and reference clustering."""
    t0 = time.perf_counter()
    key = W.cache_key(wl, seed, scale, root)
    path, clips = W.corpus(wl, seed, scale, key, cache)
    t1 = time.perf_counter()
    ref = W.reference(clips, key, cache)
    return {"path": path, "n_clips": len(clips), "ref": ref,
            "pairs": W.planted_pairs(clips["clip_id"]),
            "phases": {"corpus_s": t1 - t0,
                       "reference_s": time.perf_counter() - t1}}


def _measure(spark, args, wl, trace, nparts, work, inputs, setup_s,
             t_setup) -> int:
    clips = spark.read.parquet(inputs["path"])
    n_clips, ref, pairs = inputs["n_clips"], inputs["ref"], inputs["pairs"]
    phases = inputs["phases"]

    sampler = procstat.SubtreeSampler()
    sampler.start()
    tracer = Tracer(spark, f"{wl.name}-s{args.seed}") if trace else None
    runs = os.path.join(work, "runs")
    for pid in os.listdir(runs):  # left behind by killed runs
        if not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(runs, pid), ignore_errors=True)
    run_root = os.path.join(runs, str(os.getpid()))
    results: list[dict] = []
    t_loop = time.perf_counter()
    try:
        while True:
            t_it = time.perf_counter()
            try:
                results.append(one_run(
                    spark, clips, n_clips, ref, pairs, sampler,
                    os.path.join(run_root, str(len(results))), tracer))
            except Exception:  # noqa: BLE001 -- a failed run is counted
                traceback.print_exc()
                results.append({"ok": False})
                break
            it = time.perf_counter() - t_it
            if time.perf_counter() - t_loop + it > args.seconds:
                break
        fold = {}
        if trace and wl.name == "text_nearvar" and results[-1].get("ok"):
            # the fold costs about FOLD_COST pipeline runs; on a host too
            # slow to finish it inside the run's time limit it is skipped
            # (its metrics read 0 and the diagnostics say so)
            eta = (time.perf_counter() - t_setup
                   + FOLD_COST * results[-1]["wall_s"])
            if eta < RUN_LIMIT_S:
                fold = _fold(spark, tracer, clips, wl.n_docs(args.scale),
                             os.path.join(run_root, "fold"), nparts)
                if fold["agreement"] != 1.0:  # one more failed run
                    results.append({"ok": False})
            else:
                fold = {"skipped_eta_s": eta}
    finally:
        sampler.stop()
        shutil.rmtree(run_root, ignore_errors=True)

    attempted, failed = summarize(results)
    good = [r for r in results if "wall_s" in r]
    diag = {
        "workload": wl.name, "seed": args.seed, "clips": n_clips,
        "local": nparts, "scratch": work, "setup_s": setup_s, **phases,
        "runs_wall_s": [r["wall_s"] for r in good],
        "loadavg": [r["window"]["loadavg"] for r in good],
        "neighbor_cores": [r["window"]["neighbor_cores"] for r in good],
        "steal_cores": [r["window"]["steal_cores"] for r in good],
        "peak_memory": [r["window"]["peak_detail"] for r in good],
        "recall_by_class": ({k: f"{m}/{p}" for k, (m, p)
                             in good[0]["recall"].items() if p}
                            if good else {}),
        "fold_agreement": fold.get("agreement"),
        "fold_skipped_eta_s": fold.get("skipped_eta_s"),
    }
    print(json.dumps({"diagnostics": diag}))
    if not good:
        print(json.dumps({"correct": False, "attempted": attempted,
                          "failed": failed, "metrics": {}}))
        return 0
    if trace:
        values = per_layer(good[0], fold, tracer)
        tracer.dump(os.path.join(work, "traces",
                                 f"{wl.name}-s{args.seed}-{os.getpid()}.json"))
    else:
        values = end_to_end(results, setup_s, n_clips)
    specs = metric_specs(trace)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": specs[k][0]}
                    for k in specs},
    }))
    return 0


def _fold(spark, tracer, clips, n_docs, fold_dir, nparts) -> dict:
    from fold import run_fold

    try:
        return run_fold(spark, tracer, clips, n_docs, fold_dir, nparts)
    except Exception:  # noqa: BLE001 -- a failed fold fails the run
        traceback.print_exc()
        return {"agreement": 0.0}


if __name__ == "__main__":
    sys.exit(main())
