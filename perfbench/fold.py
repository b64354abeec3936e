"""The incremental fold loop: ingest a held-out batch into a committed
intake store, run the maintenance job, then scan the merge-on-read view.

Set-up ingests the rest of the corpus as batch 0 and bootstraps the
cluster state over it.  The loop is one closed-loop client: ingest
(``BatchIngestor.process``) -> fold (``jobs/maintain_clusters.main``) ->
read (``maintain_clusters.read_current``).  The reference is a
from-scratch maintenance bootstrap over base and batch together, in its
own state directory.
"""

from __future__ import annotations

import contextlib
import io as _io
import json
import os
import sys

from workloads import agreement

HOLD_OUT = 0.2  # share of source documents held out as the ingested batch


def _maintain(store: str, workdir: str, nparts: int) -> None:
    import jobs.maintain_clusters as MJ

    argv = ["maintain_clusters", "--store", store, "--workdir", workdir,
            "--config-json", json.dumps({"shuffle_partitions": nparts})]
    old = sys.argv
    sys.argv = argv
    try:
        with contextlib.redirect_stdout(_io.StringIO()):  # job status line
            rc = MJ.main()
    finally:
        sys.argv = old
    if rc != 0:
        raise RuntimeError(f"maintain_clusters exited {rc} on {workdir}")


def _view(spark, workdir: str) -> dict:
    import jobs.maintain_clusters as MJ

    pdf = MJ.read_current(spark, workdir).toPandas()
    return dict(zip(pdf["clip_id"], pdf["cluster_id"]))


def _pending_rows(spark, workdir: str, table: str) -> int:
    """Rows of the pending ``mapping``/``delta`` state (0 once folded)."""
    with open(os.path.join(workdir, "state.json")) as f:
        v = json.load(f).get("pend_v")
    if v is None:
        return 0
    return spark.read.parquet(os.path.join(workdir, table, f"v{v}")).count()


def run_fold(spark, tracer, clips, n_docs: int, work: str,
             nparts: int) -> dict:
    """Returns the fold's per-layer metrics plus ``agreement`` with the
    from-scratch reference."""
    from pyspark.sql import functions as F

    from locality_sensitive_hashing_spark.config import DEFAULT_CONFIG
    from locality_sensitive_hashing_spark.streaming.incremental import (
        BatchIngestor,
    )

    store = os.path.join(work, "store")
    wd = os.path.join(work, "state")
    wd_ref = os.path.join(work, "reference")
    cut = int(n_docs * (1 - HOLD_OUT))
    doc = F.substring("clip_id", 4, 8).cast("int")  # doc<8 digits>r<rep>
    base, batch = clips.where(doc < cut), clips.where(doc >= cut)

    tracer.top("base_ingest", BatchIngestor(spark, store, DEFAULT_CONFIG)
               .process, base, 0)
    _, boot = tracer.top("bootstrap", _maintain, store, wd, nparts)
    _, ing = tracer.top("ingest", BatchIngestor(spark, store, DEFAULT_CONFIG)
                        .process, batch, 1)
    _, mnt = tracer.top("maintain", _maintain, store, wd, nparts)
    got, view = tracer.top("view_read", _view, spark, wd)
    out = {
        "incremental.ingest_s": ing["end"] - ing["start"],
        "maintenance.run_s": mnt["end"] - mnt["start"],
        "maintenance.view_read_s": view["end"] - view["start"],
        "maintenance.bootstrap_s": boot["end"] - boot["start"],
        "maintenance.mapping_rows": _pending_rows(spark, wd, "mapping"),
        "maintenance.delta_rows": _pending_rows(spark, wd, "delta"),
        "spark.jobs.ingest": ing["spark_jobs"],
        "spark.tasks.ingest": ing["spark_tasks"],
        "spark.jobs.maintain": mnt["spark_jobs"],
        "spark.tasks.maintain": mnt["spark_tasks"],
    }
    tracer.top("reference", _maintain, store, wd_ref, nparts)
    out["agreement"] = agreement(got, _view(spark, wd_ref))
    return out
