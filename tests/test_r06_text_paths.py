"""One-pass text verification: path equality + plan shape.

The pipeline derives text_verified in ONE job via either the worker-side
lookup kernel (small feature tables) or the fused join form (past the
size gate).  Both must emit BIT-IDENTICAL rows -- est float-bit equality
included -- equal to the numpy oracle's text_verified, and the lookup
plan must stay join- and exchange-free with exactly one Python crossing.
"""

from __future__ import annotations

import numpy as np
import pytest

from locality_sensitive_hashing_spark.operators.candidates import (
    decode_mask_col,
)
from locality_sensitive_hashing_spark.operators.verify import (
    text_verified_fused,
    text_verified_lookup,
)

COLS = ["tk1", "tk2", "detectors", "est_jaccard", "hamming", "lcs", "text_ok"]


def _frame(pdf):
    pdf = pdf.copy()
    pdf["detectors"] = pdf["detectors"].map(tuple)
    return pdf.sort_values(["tk1", "tk2"]).reset_index(drop=True)[COLS]


@pytest.fixture(scope="module")
def text_paths(spark, pipeline_run, cfg, corpus):
    """(lookup, fused, oracle) text_verified frames over the committed
    mask-schema candidates."""
    io, _, _ = pipeline_run
    cands = io.read("candidates")
    sig_dir = io.data_path("signatures")
    fp_dir = io.data_path("fingerprints")
    lookup = text_verified_lookup(cands, sig_dir, fp_dir, cfg)
    fused = text_verified_fused(
        cands, io.read("signatures"), io.read("fingerprints"), cfg)
    assert "detectors_mask" in lookup.columns  # the commit-form schema
    assert "detectors_mask" in fused.columns
    _, _, oracle = corpus
    return (
        _frame(decode_mask_col(lookup).toPandas()),
        _frame(decode_mask_col(fused).toPandas()),
        _frame(oracle.text_verified),
    )


def _assert_same_rows(got, exp):
    assert len(got) == len(exp)
    for c in ("tk1", "tk2", "detectors", "hamming", "lcs", "text_ok"):
        assert list(got[c]) == list(exp[c]), f"{c} mismatch"
    # float BIT equality, not approximate: same (B, H) numpy compare
    assert (
        got.est_jaccard.to_numpy().view(np.int64)
        == exp.est_jaccard.to_numpy().view(np.int64)
    ).all()


def test_lookup_path_equals_fused(text_paths):
    lookup, fused, _ = text_paths
    _assert_same_rows(lookup, fused)


def test_lookup_path_equals_oracle(text_paths):
    lookup, _, oracle = text_paths
    _assert_same_rows(lookup, oracle)


def test_fused_path_equals_oracle(text_paths):
    _, fused, oracle = text_paths
    _assert_same_rows(fused, oracle)


def test_lookup_plan_zero_joins_one_python_crossing(spark, pipeline_run, cfg):
    io, _, _ = pipeline_run
    plan = text_verified_lookup(
        io.read("candidates"), io.data_path("signatures"),
        io.data_path("fingerprints"), cfg,
    )._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "Exchange" not in plan
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan


def test_lookup_gate_falls_back_on_size(spark, pipeline_run, monkeypatch):
    """Feature tables above TEXT_LOOKUP_MAX_BYTES plan the fused join
    form (still one-pass)."""
    import locality_sensitive_hashing_spark.plans.pipeline as P

    _, pipe, _ = pipeline_run
    assert pipe._text_lookup_dirs() is not None
    monkeypatch.setattr(P, "TEXT_LOOKUP_MAX_BYTES", 0)
    assert pipe._text_lookup_dirs() is None
