#!/usr/bin/env python
"""spark-submit entry point for the dedup pipeline.

    spark-submit --master <cluster> --py-files lshdedup.zip \
        jobs/dedup.py --input /data/clips.parquet --workdir /data/dedup_run

(BASELINE.json: "ships as a spark-submit --py-files job"; build the zip
with `python jobs/make_pyfiles.py`.)  The package is imported on driver
AND executors from the shipped zip, so the seed-derived hash family and
all kernels agree everywhere.

Resumable: re-running with the same --workdir and config skips committed
stages (plans/pipeline.py).  Exit code 0 iff the clusters table committed.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    ap = argparse.ArgumentParser(description="near-duplicate dedup pipeline")
    ap.add_argument("--input", required=True,
                    help="clips parquet path (clip_id, bytes, sr_hz, dur_ms, codec, transcript)")
    ap.add_argument("--workdir", required=True,
                    help="TableIO root for stage tables, manifest, metrics")
    ap.add_argument("--master", default=None,
                    help="override spark master (default: env/cluster manager)")
    ap.add_argument("--iceberg-catalog", default=None,
                    help="configured Iceberg catalog name; stage tables "
                         "commit as Iceberg snapshots when the runtime "
                         "jar is present (parquet fallback otherwise)")
    ap.add_argument("--config-json", default=None,
                    help='JSON dict of Config overrides, e.g. {"bands": 16, "rows_per_band": 8}')
    ap.add_argument("--run-id", default=None)
    args = ap.parse_args()

    from locality_sensitive_hashing_spark.config import Config
    from locality_sensitive_hashing_spark.plans.pipeline import DedupPipeline
    from locality_sensitive_hashing_spark.session import get_spark
    from locality_sensitive_hashing_spark.sources.tables import TableIO

    cfg = Config(**json.loads(args.config_json)) if args.config_json else Config()
    spark = get_spark(args.master, app_name="lsh-dedup-job")
    clips = spark.read.parquet(args.input)
    io = TableIO(spark, args.workdir, iceberg_catalog=args.iceberg_catalog)
    pipe = DedupPipeline(spark, cfg, io, run_id=args.run_id)
    clusters = pipe.run(clips)
    n = clusters.count()
    print(json.dumps({
        "status": "ok",
        "config_id": cfg.config_id,
        "n_rows": n,
        "executed_stages": pipe.executed_stages,
        "skipped_stages": pipe.skipped_stages,
        "clusters_table": f"{args.workdir}/clusters",
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
