#!/usr/bin/env python
"""Generate the committed golden fixtures (FIXTURES.md section 2).

Runs the numpy oracle over the 200-row clips_tiny corpus at the pinned
Config and writes expected_* parquet tables under tests/golden/. These are
the repo's stand-in for "the reference's bucket/cluster fixtures"
(BASELINE.json) -- regenerate ONLY on a deliberate semantic change, never
to make a failing test pass.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

from locality_sensitive_hashing_spark.config import DEFAULT_CONFIG as CFG
from locality_sensitive_hashing_spark.fixtures import make_clips
from locality_sensitive_hashing_spark.oracle import run_oracle

GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "golden")
N_ROWS = 200
SEED = 42


def _listed(df):
    """Copy of ``df`` with the detectors column as plain lists."""
    out = df.copy()
    out["detectors"] = out["detectors"].map(list)
    return out


def main() -> None:
    os.makedirs(GOLDEN_DIR, exist_ok=True)
    clips, planted = make_clips(N_ROWS, seed=SEED)
    res = run_oracle(clips, CFG)
    tables = {
        "expected_signatures": res.signatures,
        "expected_buckets": res.buckets,
        "expected_simhash": res.simhash,
        "expected_candidates": _listed(res.candidates),
        "expected_verified": _listed(res.verified),
        "expected_clusters": res.clusters,
        "planted_pairs": planted,
    }
    for name, df in tables.items():
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False),
            os.path.join(GOLDEN_DIR, f"{name}.parquet"),
        )
    with open(os.path.join(GOLDEN_DIR, "meta.json"), "w") as f:
        json.dump(
            {"config_id": CFG.config_id, "n_rows": N_ROWS, "seed": SEED,
             "stats": res.stats},
            f, indent=1,
        )
    print(GOLDEN_DIR, res.stats)


if __name__ == "__main__":
    main()
