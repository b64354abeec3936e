"""Two-level pair verification: text pairs, then audio-class expansion.

Level 1 (O11, O19-O20 analogs) -- **text pairs** over distinct transcripts:
a candidate text pair (tk1 < tk2, from any detector) passes iff

    text_ok = estimated Jaccard >= cfg.jaccard_threshold   (O11)
              OR SimHash Hamming distance <= cfg.hamming_t (O14)
              OR longest common substring >= cfg.sa_min_len (O15)

(transcript equality -- O19 -- can't occur across *distinct* texts; equal
transcripts meet inside one text group below.)

Level 2 (O17-O18) -- **clip edges** via audio classes (see
operators/textgroup.py for why representative-level verification is
exactly equivalent):

- ``chain``  : consecutive byte-identical clips of one audio class;
               dup iff the payload decodes non-empty.
- ``within`` : class-representative pairs inside one text group
               (transcripts equal => text_ok); dup iff PCM verdict passes.
- ``cross``  : class-representative pairs across a PASSING text pair;
               dup iff PCM verdict passes.

The PCM verdict (BASELINE.json per-row invariant: np.allclose AND
SNR >= cfg.snr_db) runs ONCE per distinct (bytes1, bytes2) representative
combination -- the only place payload bytes cross into Python.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from locality_sensitive_hashing_spark.config import Config
from locality_sensitive_hashing_spark.operators.audio_verify import pcm_compare_udf
from locality_sensitive_hashing_spark.operators.candidates import DETECTOR_BITS
from locality_sensitive_hashing_spark.operators.minhash import estimated_jaccard_udf
from locality_sensitive_hashing_spark.operators.simhash import hamming_distance
from locality_sensitive_hashing_spark.operators.textgroup import (
    within_group_rep_pairs,
)

_INF = float("inf")
_NEG_INF = float("-inf")

VERIFIED_COLUMNS = [
    "id1", "id2", "kind", "detectors", "est_jaccard", "teq", "hamming",
    "lcs", "allclose", "snr_db", "is_dup",
]


# ---------------------------------------------------------------------------
# One-pass text verification.
#
# metrics + lazy LCS + text_ok run as a single job over the committed
# mask-schema candidates, with the per-text 32-gram arrays memoized
# (131 -> 27 us/pair on the est-refuted SA-candidate population).  Two
# forms emit BIT-IDENTICAL rows (pinned by tests/test_r06_text_paths.py
# and tests/test_spark_parity.py::test_text_verified_exact): a worker-side
# lookup kernel when the feature tables fit in worker memory, and the
# bucketed join form past that size.
# ---------------------------------------------------------------------------

# Per-WORKER feature store for the lookup kernel, keyed by (pid, dirs):
# guide section 4.5 -- the module is importable on executors, so a reused
# worker keeps the store across tasks; a fresh run (new stage dirs) evicts.
# Memory is bounded by the pipeline's on-disk size gate (the gram memo is
# at most one sorted-unique uint64 array per text).
_TEXT_FEATS_CACHE: dict = {}


def _load_text_feats(sig_dir: str, fp_dir: str):
    """Load the per-text feature store from the committed stage parquet.

    Returns (keys Index, sig (N, H) int32/int64 matrix, fp uint64 array,
    norms StringArray, gram-cache list, pop8 LUT).  ~5x the on-disk bytes
    in worker RSS (sig matrix + norms + lazily-built gram arrays); the
    pipeline's size gate (plans/pipeline.py) keeps that bounded.
    """
    import numpy as np
    import pandas as pd
    import pyarrow.parquet as pq

    key = (os.getpid(), sig_dir, fp_dir)
    hit = _TEXT_FEATS_CACHE.get(key)
    if hit is not None:
        return hit
    st = pq.read_table(sig_dir, columns=["text_key", "norm", "sig"])
    ft = pq.read_table(fp_dir, columns=["text_key", "fingerprint"])
    keys = pd.Index(st.column("text_key").to_numpy(zero_copy_only=False))
    sig_col = st.column("sig")
    if isinstance(sig_col, pa.ChunkedArray):
        sig_col = sig_col.combine_chunks()
    flat = sig_col.flatten().to_numpy(zero_copy_only=False)
    widths = np.diff(sig_col.offsets.to_numpy())
    n = len(keys)
    h = widths[0] if n else 0
    if n and not (widths == h).all():
        raise ValueError("signature lengths are not uniform")
    sig_m = flat.reshape(n, h)
    norms = st.column("norm")
    if isinstance(norms, pa.ChunkedArray):
        norms = norms.combine_chunks()
    fkeys = pd.Index(ft.column("text_key").to_numpy(zero_copy_only=False))
    fvals = ft.column("fingerprint").to_numpy(zero_copy_only=False)
    ixf = keys.get_indexer(fkeys)
    if len(fkeys) != n or (ixf < 0).any():
        raise ValueError(
            "signatures and fingerprints tables disagree on text_key set")
    fp = np.empty(n, dtype=np.int64)
    fp[ixf] = fvals
    pop8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.int32)
    out = (keys, sig_m, fp.view(np.uint64), norms, [None] * n, pop8)
    _TEXT_FEATS_CACHE.clear()  # one corpus per worker lifetime
    _TEXT_FEATS_CACHE[key] = out
    return out


def pair_metrics_lookup_udf(sig_dir: str, fp_dir: str, cfg: Config):
    """arrow_udf (id1, id2, sa_flag) -> struct(est, hamming, lcs).

    The pair stream crosses the Arrow boundary as two key strings and a
    boolean; signatures, fingerprints and norms come from the worker-side
    store (:func:`_load_text_feats`) -- no feature join, no signature or
    norm payload on any pair row.  Bit-exact vs the join form:

    - est: the identical (B, H) numpy compare as
      :func:`..minhash.estimated_jaccard_udf` ((# equal)/H in float64);
    - hamming: popcount(xor) over the uint64 fingerprint -- integer-exact
      equal to the JVM ``bit_count``;
    - lcs: the lazy sentinel rule fused into the kernel -- computed only
      where (sa_flag AND hamming > t AND est < threshold), else -1, the
      rule the numpy oracle applies -- with the
      32-gram screen of ``hashing.lcs_at_least`` running over MEMOIZED
      per-text sorted-unique gram arrays: screen emptiness over unique
      sorted arrays is identical to the uncached intersect, and screen
      survivors run the identical exact SA+LCP kernel
      (``hashing.longest_common_substring_len``).  Measured: 131 -> 27
      us/pair on the refuted population (87% of which re-hashed a text
      the worker had already hashed).
    """
    import numpy as np

    from locality_sensitive_hashing_spark import hashing as H

    min_len, thr = cfg.sa_min_len, cfg.jaccard_threshold
    ham_t = cfg.hamming_t

    @F.arrow_udf("est double, hamming int, lcs long")
    def compute(id1: pa.Array, id2: pa.Array, sa: pa.Array) -> pa.Array:
        n = len(id1)
        if n == 0:
            return pa.StructArray.from_arrays(
                [pa.array([], type=pa.float64()),
                 pa.array([], type=pa.int32()),
                 pa.array([], type=pa.int64())],
                names=["est", "hamming", "lcs"])
        keys, sig_m, fp_u, norms, grams, pop8 = _load_text_feats(
            sig_dir, fp_dir)
        ix1 = keys.get_indexer(id1.to_numpy(zero_copy_only=False))
        ix2 = keys.get_indexer(id2.to_numpy(zero_copy_only=False))
        if (ix1 < 0).any() or (ix2 < 0).any():
            raise KeyError(
                "candidate pair id missing from the signatures table")
        est = (sig_m[ix1] == sig_m[ix2]).mean(axis=1)
        x = (fp_u[ix1] ^ fp_u[ix2]).view(np.uint8).reshape(n, 8)
        ham = pop8[x].sum(axis=1).astype(np.int32)
        lcs = np.full(n, -1, dtype=np.int64)
        flags = sa.to_numpy(zero_copy_only=False)
        refuted = np.nonzero(flags & (ham > ham_t) & (est < thr))[0]

        def gram(i: int) -> np.ndarray:
            g = grams[i]
            if g is None:
                g = np.unique(
                    H.hash_kgrams(norms[i].as_py() or "", min_len))
                grams[i] = g
            return g

        for i in refuted:
            i1, i2 = int(ix1[i]), int(ix2[i])
            g1, g2 = gram(i1), gram(i2)
            if g1.size == 0 or g2.size == 0:
                continue
            pos = np.searchsorted(g1, g2)
            pos[pos == g1.size] = 0
            if not (g1[pos] == g2).any():
                continue  # no shared 32-gram -> LCS < min_len, sentinel -1
            L = H.longest_common_substring_len(
                norms[i1].as_py() or "", norms[i2].as_py() or "")
            if L >= min_len:
                lcs[i] = L
        return pa.StructArray.from_arrays(
            [pa.array(est), pa.array(ham), pa.array(lcs)],
            names=["est", "hamming", "lcs"])

    return compute


def _text_ok_expr(cfg: Config):
    return (
        (F.col("est_jaccard") >= F.lit(cfg.jaccard_threshold))
        | (F.col("hamming") <= F.lit(cfg.hamming_t))
        | (F.col("lcs") >= F.lit(cfg.sa_min_len))
    )


def _sa_flag():
    """Column: the candidate pair's 'sa' bit of ``detectors_mask``.

    The int64 mask passes through to the text_verified commit (shedding
    the 10M-row array<string> encode the same way the candidates commit
    did -- measured ~2 s off the stage write); the pipeline decodes on
    read-back (operators/candidates.decode_mask_col)."""
    return F.col("detectors_mask").bitwiseAND(
        F.lit(DETECTOR_BITS["sa"]).cast("long")) != 0


def text_verified_lookup(
    candidates: DataFrame,
    sig_dir: str,
    fp_dir: str,
    cfg: Config,
) -> DataFrame:
    """One-pass text_verified via the worker-side lookup kernel.

    Plan shape: ONE scan of the candidate pairs + ONE ArrowEvalPython +
    a JVM projection -- zero joins, zero exchanges (plan-pinned).  Only
    valid when the committed signature/fingerprint tables fit in worker
    memory; the pipeline gates on their on-disk size and falls back to
    :func:`text_verified_fused` (plans/pipeline.py).

    Mask-schema candidates in, mask-schema rows out (tk1, tk2,
    detectors_mask, ...) -- see :func:`_sa_flag`.
    """
    kernel = pair_metrics_lookup_udf(sig_dir, fp_dir, cfg)
    return (
        candidates
        .withColumn("_sa", _sa_flag())
        .withColumn("_m", kernel(F.col("id1"), F.col("id2"), F.col("_sa")))
        .select(F.col("id1").alias("tk1"), F.col("id2").alias("tk2"),
                "detectors_mask", F.col("_m.est").alias("est_jaccard"),
                F.col("_m.hamming").alias("hamming"),
                F.col("_m.lcs").alias("lcs"))
        .withColumn("text_ok", _text_ok_expr(cfg))
    )


def est_lcs_fused_udf(cfg: Config):
    """arrow_udf (sig1, sig2, norm1, norm2, saflag) -> struct(est, lcs).

    The join-form fused kernel (scale fallback of the lookup kernel):
    est is the identical (B, H) compare; lcs applies the lazy sentinel
    rule with the est-refutation fused into the kernel -- the saflag
    column carries the JVM-computed ``'sa' bit AND hamming > t`` gate,
    because a ``when(cond, udf)`` is hoisted into an eager
    ArrowEvalPython by Catalyst (the documented hazard,
    suffix_array.lcs_refuted_udf docstring).  Norm columns are gated to
    flagged rows caller-side, so a null norm only ever coincides with
    saflag=false.
    """
    import numpy as np

    from locality_sensitive_hashing_spark import hashing as H

    min_len, thr = cfg.sa_min_len, cfg.jaccard_threshold

    @F.arrow_udf("est double, lcs long")
    def compute(sig1: pa.Array, sig2: pa.Array, t1: pa.Array,
                t2: pa.Array, flag: pa.Array) -> pa.Array:
        n = len(sig1)
        if n == 0:
            return pa.StructArray.from_arrays(
                [pa.array([], type=pa.float64()),
                 pa.array([], type=pa.int64())],
                names=["est", "lcs"])
        o1 = sig1.offsets.to_numpy()
        o2 = sig2.offsets.to_numpy()
        w1 = np.diff(o1)
        flat1 = sig1.flatten().to_numpy(zero_copy_only=False)
        flat2 = sig2.flatten().to_numpy(zero_copy_only=False)
        h = w1[0] if n else 0
        if (w1 == h).all() and (np.diff(o2) == h).all():
            # production path: config-fixed H -> one (B, H) compare
            est = (flat1.reshape(n, h) == flat2.reshape(n, h)).mean(axis=1)
        else:  # ad-hoc mixed-length inputs
            est = np.empty(n, dtype=np.float64)
            b1 = o1 - o1[0]
            b2 = o2 - o2[0]
            for i in range(n):
                est[i] = (flat1[b1[i]:b1[i + 1]]
                          == flat2[b2[i]:b2[i + 1]]).mean()
        lcs = np.full(n, -1, dtype=np.int64)
        fl = flag.to_numpy(zero_copy_only=False)
        refuted = np.nonzero(fl & (est < thr))[0]
        if refuted.size:
            t1v = t1.take(pa.array(refuted)).to_pylist()
            t2v = t2.take(pa.array(refuted)).to_pylist()
            for j, i in enumerate(refuted):
                lcs[i] = H.lcs_at_least(t1v[j] or "", t2v[j] or "", min_len)
        return pa.StructArray.from_arrays(
            [pa.array(est), pa.array(lcs)], names=["est", "lcs"])

    return compute


def text_verified_fused(
    candidates: DataFrame,
    signatures: DataFrame,
    fingerprints: DataFrame,
    cfg: Config,
) -> DataFrame:
    """One-pass text_verified, join form (scale fallback).

    Same single-job fusion as :func:`text_verified_lookup` but the
    features arrive through the bucketed signature/fingerprint joins, so
    it scales to corpora whose per-text tables exceed worker memory.
    Norms ride the joins gated to the rows that can need them (norm1 to
    'sa'-detector pairs -- known BEFORE any join -- and norm2 to
    saflag rows map-side after the second join), so the second pair
    exchange carries norm bytes only for the SA-candidate fraction and
    the Arrow boundary only for the refutable fraction.
    """
    feats = signatures.select("text_key", "norm", "sig").join(
        fingerprints.select("text_key", "fingerprint"), "text_key")
    g1 = feats.select(F.col("text_key").alias("id1"),
                      F.col("sig").alias("sig1"),
                      F.col("norm").alias("norm1"),
                      F.col("fingerprint").alias("fp1"))
    g2 = feats.select(F.col("text_key").alias("id2"),
                      F.col("sig").alias("sig2"),
                      F.col("norm").alias("norm2"),
                      F.col("fingerprint").alias("fp2"))
    kernel = est_lcs_fused_udf(cfg)
    return (
        candidates
        .withColumn("_sa", _sa_flag())
        .join(g1, "id1")
        # gate norm1 BEFORE the id2 exchange: non-SA pairs ship no norm
        .withColumn("_n1", F.when(F.col("_sa"), F.col("norm1")))
        .drop("norm1")
        .join(g2, "id2")
        .withColumn("hamming",
                    hamming_distance(F.col("fp1"), F.col("fp2")).cast("int"))
        .withColumn(
            "_saflag", F.col("_sa") & (F.col("hamming") > F.lit(cfg.hamming_t))
        )
        .withColumn("_n2", F.when(F.col("_saflag"), F.col("norm2")))
        .withColumn("_el", kernel(F.col("sig1"), F.col("sig2"),
                                  F.col("_n1"), F.col("_n2"),
                                  F.col("_saflag")))
        .select(F.col("id1").alias("tk1"), F.col("id2").alias("tk2"),
                "detectors_mask", F.col("_el.est").alias("est_jaccard"),
                "hamming", F.col("_el.lcs").alias("lcs"))
        .withColumn("text_ok", _text_ok_expr(cfg))
    )


def _audio_verdict(pairs: DataFrame, clips: DataFrame) -> DataFrame:
    """Join rep payloads and run the PCM UDF: adds (allclose, snr_db)."""
    b1 = clips.select(F.col("clip_id").alias("id1"), F.col("bytes").alias("_b1"))
    b2 = clips.select(F.col("clip_id").alias("id2"), F.col("bytes").alias("_b2"))
    udf = pcm_compare_udf()
    return (
        pairs.join(b1, "id1")
        .join(b2, "id2")
        .withColumn("_a", udf(F.col("_b1"), F.col("_b2")))
        .withColumn("allclose", F.col("_a.allclose"))
        .withColumn("snr_db", F.col("_a.snr_db"))
        .drop("_b1", "_b2", "_a")
    )


def energy_class_feats(classes: DataFrame) -> DataFrame:
    """One frame-energy feature row per DISTINCT payload (audio_key):
    (audio_key, clip_id=global rep, shingles, sig, decode_ok=true), in the
    shape operators/audio_lsh.py's blocking functions expect."""
    return (
        classes.where("e_ok")
        .groupBy("audio_key")
        .agg(
            F.min("rep").alias("clip_id"),
            # all rows of one audio_key carry identical e_* values (pure
            # functions of the shared byte payload); min_by picks the
            # global rep's copy deterministically
            F.min_by("e_shingles", "rep").alias("shingles"),
            F.min_by("e_sig", "rep").alias("sig"),
        )
        .withColumn("decode_ok", F.lit(True))
    )


def energy_content_edges(classes: DataFrame, cfg: Config) -> DataFrame:
    """Audio-CONTENT edges (kind="audio_content") between distinct
    payloads: the frame-energy LSH detector folded into the flagship DAG.

    Pairs re-masters whose BYTES differ and whose TRANSCRIPTS differ --
    head-trimmed or re-recorded-with-noise republications that no text
    detector and no byte-equality class can reach (operators/audio_lsh.py
    module docstring).  Consumes the e_* columns the ``audio_classes``
    kernel already computed (zero extra decode passes); runs once per
    DISTINCT payload (audio_key), so byte-identical republication adds no
    work, and the member clips reach the content edge through their class
    chain/star edges exactly like the PCM axis.

    Semantics match the standalone detector (q_audio_content_near_dups):
    canonical-s16le payloads only (e_ok), the MIN_PROFILE_SHINGLES
    low-information floor, tuple-band LSH blocking at cfg.bucket_cap, and
    an EXACT shingle-Jaccard verdict.  Emitted rows carry est_jaccard =
    that exact Jaccard; allclose/snr_db are reported False/-inf ("PCM
    compare not run" -- bytes differ by construction for every
    cross-payload pair), hamming/lcs as the -1 not-computed sentinel, and
    is_dup = jaccard >= audio_lsh.JACCARD_THRESHOLD.
    """
    from locality_sensitive_hashing_spark.operators.audio_lsh import (
        JACCARD_THRESHOLD,
        audio_candidate_pairs,
    )

    feats = energy_class_feats(classes)
    pairs = audio_candidate_pairs(feats, cfg)
    s1 = feats.select(F.col("clip_id").alias("id1"), F.col("shingles").alias("_sh1"))
    s2 = feats.select(F.col("clip_id").alias("id2"), F.col("shingles").alias("_sh2"))
    jac = (
        F.size(F.array_intersect("_sh1", "_sh2")).cast("double")
        / F.size(F.array_union("_sh1", "_sh2"))
    )
    return (
        pairs.join(s1, "id1")
        .join(s2, "id2")
        .withColumn("est_jaccard", jac)
        .select(
            "id1", "id2",
            F.lit("audio_content").alias("kind"),
            F.array(F.lit("energy")).alias("detectors"),
            "est_jaccard",
            F.lit(False).alias("teq"),
            F.lit(-1).alias("hamming"),
            F.lit(-1).cast("long").alias("lcs"),
            F.lit(False).alias("allclose"),
            F.lit(_NEG_INF).alias("snr_db"),
            (F.col("est_jaccard") >= F.lit(JACCARD_THRESHOLD)).alias("is_dup"),
        )
    )


def fingerprint_class_feats(classes: DataFrame) -> DataFrame:
    """One gain-fingerprint feature row per DISTINCT payload (audio_key):
    (audio_key, clip_id=global rep, decode_ok=true, codes, n_active), in
    the shape operators/audio_fingerprint.py's blocking/floor functions
    expect.  e_ok gates it -- the fingerprint kernel parses the same
    canonical-s16le payloads as the energy kernel."""
    return (
        classes.where("e_ok")
        .groupBy("audio_key")
        .agg(
            F.min("rep").alias("clip_id"),
            # identical per audio_key (pure function of the payload);
            # min_by picks the global rep's copy deterministically
            F.min_by("fp_codes", "rep").alias("codes"),
            F.min_by("fp_active", "rep").alias("n_active"),
        )
        .withColumn("decode_ok", F.lit(True))
    )


def gain_content_edges(classes: DataFrame, cfg: Config) -> DataFrame:
    """Gain-invariant audio edges (kind="audio_gain") between distinct
    payloads: the Haitsma-Kalker sign-bit fingerprint detector folded
    into the flagship DAG (fifth edge source).

    Pairs +6 dB re-masters and dithered re-encodes whose BYTES differ and
    whose TRANSCRIPTS differ -- republications the energy detector misses
    by construction (its log-quantized symbols shift bins under gain, so
    the shingle sets are disjoint; operators/audio_fingerprint.py module
    docstring).  Consumes the fp_* columns the ``audio_classes`` kernel
    already computed (zero extra decode passes); runs once per DISTINCT
    payload, so byte-identical republication adds no work, and member
    clips reach the gain edge through their class chain/star edges
    exactly like the PCM and energy axes.

    Semantics match the standalone detector (q_audio_gain_near_dups):
    canonical-s16le payloads only (e_ok), the MIN_CODES/MIN_ACTIVE_FRAC
    low-information floor, pigeonhole WINDOW-code blocking at
    cfg.bucket_cap, equal-length alignment, exact BER verify JVM-side
    (zip_with/bit_count in whole-stage codegen).  Emitted rows carry
    est_jaccard = the bit-AGREEMENT fraction 1 - BER (raw double, one
    IEEE division -- the numpy oracle reproduces it bit-for-bit);
    allclose/snr_db are False/-inf ("PCM compare not run" -- bytes differ
    by construction), hamming/lcs the -1 not-computed sentinel, and
    is_dup = BER <= audio_fingerprint.BER_MAX.
    """
    from locality_sensitive_hashing_spark.operators.audio_fingerprint import (
        BER_MAX,
        CODE_BITS,
        fingerprint_blocks,
    )
    from locality_sensitive_hashing_spark.operators.candidates import (
        pairs_from_blocks,
    )

    feats = fingerprint_class_feats(classes)
    blocks = fingerprint_blocks(feats)
    pairs = pairs_from_blocks(
        blocks, ["win_idx", "wkey"], cfg.bucket_cap, "fingerprint"
    ).select("id1", "id2")
    c1 = feats.select(F.col("clip_id").alias("id1"), F.col("codes").alias("_c1"))
    c2 = feats.select(F.col("clip_id").alias("id2"), F.col("codes").alias("_c2"))
    ber = F.expr(
        "aggregate(zip_with(_c1, _c2, (a, b) -> bit_count(a ^ b)), 0, "
        "(acc, x) -> acc + x)"
    ).cast("double") / (F.lit(CODE_BITS) * F.size("_c1"))
    return (
        pairs.join(c1, "id1")
        .join(c2, "id2")
        .where(F.size("_c1") == F.size("_c2"))
        .withColumn("_ber", ber)
        .select(
            "id1", "id2",
            F.lit("audio_gain").alias("kind"),
            F.array(F.lit("fingerprint")).alias("detectors"),
            (F.lit(1.0) - F.col("_ber")).alias("est_jaccard"),
            F.lit(False).alias("teq"),
            F.lit(-1).alias("hamming"),
            F.lit(-1).cast("long").alias("lcs"),
            F.lit(False).alias("allclose"),
            F.lit(_NEG_INF).alias("snr_db"),
            # sub-threshold candidates stay as is_dup=False evidence rows,
            # same convention as the energy axis
            (F.col("_ber") <= F.lit(BER_MAX)).alias("is_dup"),
        )
    )


def expand_and_verify(
    text_verified: DataFrame,
    classes: DataFrame,
    chains: DataFrame,
    clips: DataFrame,
    cfg: Config,
) -> DataFrame:
    """Clip-level verified edges: chain + within-group + cross-group +
    audio-content energy edges + gain-invariant fingerprint edges.

    ``classes``: (text_key, audio_key, rep, n_members);
    ``chains``: (id1, id2, text_key, audio_key).
    Returns VERIFIED_COLUMNS.
    """
    snr_thresh = F.lit(cfg.snr_db)

    # -- chain edges: byte-identical, dup iff payload decodes non-empty ---
    # (decode_ok was computed once per class in the audio_classes stage)
    chain = (
        chains.join(classes.select("text_key", "audio_key", "decode_ok"),
                    ["text_key", "audio_key"])
        .select(
            "id1", "id2",
            F.lit("chain").alias("kind"),
            F.array(F.lit("exact")).alias("detectors"),
            F.lit(1.0).alias("est_jaccard"),
            F.lit(True).alias("teq"),
            F.lit(0).alias("hamming"),
            F.lit(-1).cast("long").alias("lcs"),
            F.col("decode_ok").alias("allclose"),
            F.when(F.col("decode_ok"), F.lit(_INF)).otherwise(F.lit(_NEG_INF)).alias("snr_db"),
            F.col("decode_ok").alias("is_dup"),
        )
    )

    # -- within-group representative pairs (transcripts equal) ------------
    within = within_group_rep_pairs(classes, cfg).select(
        "id1", "id2",
        F.lit("within").alias("kind"),
        F.array(F.lit("within_text")).alias("detectors"),
        F.lit(1.0).alias("est_jaccard"),
        F.lit(True).alias("teq"),
        F.lit(0).alias("hamming"),
        F.lit(-1).cast("long").alias("lcs"),
    )

    # -- cross-group representative pairs over passing text pairs ---------
    counts = classes.groupBy("text_key").agg(F.count("*").alias("n_classes"))
    ok_reps = (
        classes.join(counts.where(F.col("n_classes") <= cfg.bucket_cap), "text_key")
        .select("text_key", "rep")
    )
    r1 = ok_reps.select(F.col("text_key").alias("tk1"), F.col("rep").alias("rep1"))
    r2 = ok_reps.select(F.col("text_key").alias("tk2"), F.col("rep").alias("rep2"))
    cross = (
        text_verified.where("text_ok")
        .join(r1, "tk1")
        .join(r2, "tk2")
        .select(
            F.least("rep1", "rep2").alias("id1"),
            F.greatest("rep1", "rep2").alias("id2"),
            F.lit("cross").alias("kind"),
            "detectors", "est_jaccard",
            F.lit(False).alias("teq"),
            "hamming", "lcs",
        )
    )

    # -- unified rep-pair verdict: JVM digest screen, then PCM UDF --------
    # Representative pairs join 256-byte class digests (NOT payloads);
    # a sound allclose bound (audio.pcm_digest) rejects provable non-dups
    # entirely JVM-side; only screen survivors join actual bytes and cross
    # into the Python PCM UDF. Rejected pairs get (allclose=False,
    # snr_db=-inf, is_dup=False) -- exactly what the full compare would
    # conclude for allclose/is_dup (snr_db for rejected pairs is reported
    # as -inf by convention; the numpy oracle applies the identical rule).
    rep_pairs = within.unionByName(cross)
    meta1 = classes.select(
        F.col("rep").alias("id1"), F.col("decode_ok").alias("_ok1"),
        F.col("n_samples").alias("_n1"), F.col("digest").alias("_g1"),
    )
    meta2 = classes.select(
        F.col("rep").alias("id2"), F.col("decode_ok").alias("_ok2"),
        F.col("n_samples").alias("_n2"), F.col("digest").alias("_g2"),
    )
    screened = (
        rep_pairs.join(meta1, "id1")
        .join(meta2, "id2")
        .withColumn(
            "_maybe_dup",
            F.col("_ok1") & F.col("_ok2")
            & (F.col("_n1") == F.col("_n2")) & (F.col("_n1") > 0)
            & F.forall(
                F.zip_with("_g1", "_g2", lambda x, y: F.abs(x - y) <= 1),
                lambda v: v,
            ),
        )
        .drop("_ok1", "_ok2", "_n1", "_n2", "_g1", "_g2")
    )
    # The survivors and rejected branches below consume ``screened`` with
    # complementary filters; without a materialization point the whole
    # screen subtree (text_verified scan + four broadcast joins + the
    # interpreted digest HOF) executes TWICE in the verified job -- and a
    # forced exchange cannot be reused here because each branch's filter
    # pushes below the repartition, de-canonicalizing the two subtrees
    # (measured: repartition("id1","id2") saved nothing).  localCheckpoint
    # runs the screen once and both branches read the bounded pair frame
    # (no payload columns; MEMORY_AND_DISK, spills rather than OOMs) --
    # measured -13% on the stage with the checkpoint job included.
    screened = screened.localCheckpoint()
    survivors = _audio_verdict(screened.where("_maybe_dup"), clips).withColumn(
        "is_dup", F.col("allclose") & (F.col("snr_db") >= snr_thresh)
    )
    rejected = screened.where(~F.col("_maybe_dup")).select(
        "*",
        F.lit(False).alias("allclose"),
        F.lit(_NEG_INF).alias("snr_db"),
        F.lit(False).alias("is_dup"),
    )

    return (
        chain.select(*VERIFIED_COLUMNS)
        .unionByName(survivors.select(*VERIFIED_COLUMNS))
        .unionByName(rejected.select(*VERIFIED_COLUMNS))
        .unionByName(
            energy_content_edges(classes, cfg).select(*VERIFIED_COLUMNS))
        .unionByName(
            gain_content_edges(classes, cfg).select(*VERIFIED_COLUMNS))
    )
