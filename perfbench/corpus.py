"""Clips corpora generated from a seed, in this process.

The two recipes follow the package's fixture generators
(``fixtures.bench_clips_df`` and ``fixtures.audio_dup_clips_df``) row for
row -- same clip ids, random streams, audio and transcripts, which
test_perfbench.py checks -- but run in plain numpy.  That keeps the
benchmark's inputs fixed when the package's fixtures change, and avoids
a Spark job per run to build them.

The documents both recipes start from are drawn like the ``documents``
testdata table (TESTDATA.md): 10-100 tokens uniformly from the
fixtures' 60-word vocabulary.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "the", "a", "fast", "slow", "big", "small", "key", "order", "sort",
    "table", "scan", "merge", "part", "window", "hash", "join", "batch",
    "stream", "spark", "dup", "group", "query", "row", "data", "filter",
    "customer", "line", "value", "agg", "column", "vector", "shuffle",
    "bucket", "cluster", "shingle", "signature", "band", "audio", "clip",
    "codec", "sample", "rate", "token", "text", "index", "cache", "disk",
    "memory", "stage", "task", "plan", "node", "edge", "graph", "label",
    "prime", "modulo", "seed", "pair", "match",
]
COLUMNS = ["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"]
SR = 8000
REPLICATE = 4  # text_nearvar clips per document
REPUBLISH_EVERY, GAIN_EVERY = 11, 13  # audio_families r / q variants
N_FILES = 16  # parquet files per corpus


def documents(seed: int, n_docs: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 0x646F6373])
    lens = rng.integers(10, 101, n_docs)
    texts = [" ".join(rng.choice(VOCAB, int(k))) for k in lens]
    return pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64),
                         "text": texts})


def encode_wav(pcm: np.ndarray) -> bytes:
    """Float PCM in [-1, 1] -> mono s16le WAV with a 44-byte header."""
    data = np.clip(np.round(np.asarray(pcm, dtype=np.float64) * 32767.0),
                   -32768, 32767).astype("<i2").tobytes()
    hdr = struct.pack("<4sI4s4sIHHIIHH4sI", b"RIFF", 36 + len(data), b"WAVE",
                      b"fmt ", 16, 1, 1, SR, SR * 2, 2, 16, b"data", len(data))
    return hdr + data


def synth_pcm(rng: np.random.Generator, dur_ms: int) -> np.ndarray:
    """2-4 sines plus Gaussian noise, peak-normalized to 0.9."""
    n = int(SR * dur_ms / 1000)
    t = np.arange(n, dtype=np.float64) / SR
    pcm = np.zeros(n)
    for _ in range(int(rng.integers(2, 5))):
        f = float(rng.uniform(80.0, min(3800.0, SR / 2 - 100)))
        amp = float(rng.uniform(0.2, 0.6))
        phase = float(rng.uniform(0, 2 * np.pi))
        pcm += amp * np.sin(2 * np.pi * f * t + phase)
    pcm += rng.normal(0, 0.01, n)
    peak = np.abs(pcm).max()
    return pcm * (0.9 / peak) if peak > 0 else pcm


def synth_env_pcm(rng: np.random.Generator, dur_ms: int,
                  n_knots: int = 10) -> np.ndarray:
    """synth_pcm under a random piecewise-linear amplitude envelope."""
    pcm = synth_pcm(rng, dur_ms)
    knots = rng.uniform(0.05, 1.0, n_knots)
    env = np.interp(np.arange(pcm.size),
                    np.linspace(0, pcm.size - 1, n_knots), knots)
    return pcm * env


def add_noise_at_snr(rng, pcm: np.ndarray, snr_db: float) -> np.ndarray:
    noise = rng.normal(0, 1.0, pcm.size)
    scale = np.sqrt(float(np.sum(pcm * pcm))
                    / (float(np.sum(noise * noise)) * 10 ** (snr_db / 10.0)))
    return pcm + noise * scale


def _substitute(rng, toks: list[str], n_subs: int) -> list[str]:
    out = list(toks)
    for i in rng.choice(len(out), size=min(n_subs, len(out)), replace=False):
        out[i] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return out


def text_nearvar(seed: int, n_docs: int) -> pd.DataFrame:
    """Per document: rep 0 original, rep 1 byte- and text-identical copy,
    reps >= 2 near-variant transcripts (1-3 token substitutions) with
    unique 250 ms audio."""
    rows = []
    for doc_id, text in documents(seed, n_docs).itertuples(index=False):
        for rep in range(REPLICATE):
            rng = np.random.default_rng([seed, doc_id, 0 if rep == 1 else rep])
            raw = encode_wav(synth_pcm(rng, 250))
            if rep >= 2:
                trng = np.random.default_rng([seed, doc_id, rep, 1])
                text_r = " ".join(_substitute(trng, text.split(), 1 + rep % 3))
            else:
                text_r = text
            rows.append((f"doc{doc_id:08d}r{rep:02d}", raw, SR, 250,
                         "pcm_s16le", text_r))
    return pd.DataFrame(rows, columns=COLUMNS)


def audio_families(seed: int, n_docs: int) -> pd.DataFrame:
    """One enveloped clip per document plus planted variants under
    unrelated transcripts: r (same bytes), q (-6 dB), t (head-trimmed),
    z (40 dB SNR noise)."""
    dur_ms = 1000
    rows = []
    for doc_id, text in documents(seed, n_docs).itertuples(index=False):
        rng = np.random.default_rng([seed, doc_id, 11])
        pcm = synth_env_pcm(rng, dur_ms)
        raw = encode_wav(pcm)
        cid = f"a{doc_id:08d}"
        rows.append((cid + "b", raw, SR, dur_ms, "pcm_s16le", text))
        if doc_id % REPUBLISH_EVERY == 0:
            rows.append((cid + "r", raw, SR, dur_ms, "pcm_s16le",
                         f"republication {doc_id} under a new title"))
        if doc_id % GAIN_EVERY == 0:
            ints = np.clip(np.round(pcm * 32767.0), -32768, 32767
                           ).astype(np.int64)
            quiet = np.round(ints.astype(np.float64) * 0.5)
            rows.append((cid + "q", encode_wav(quiet / 32767.0), SR, dur_ms,
                         "pcm_s16le",
                         f"quiet master {doc_id} republished 6 dB down"))
        if doc_id % 5 == 0:
            rows.append((cid + "t", encode_wav(pcm[800:]), SR, 400,
                         "pcm_s16le",
                         f"retake {doc_id} republished with the opening "
                         "trimmed"))
        if doc_id % 7 == 0:
            noisy = add_noise_at_snr(rng, pcm, 40.0)
            rows.append((cid + "z", encode_wav(noisy), SR, dur_ms, "pcm_s16le",
                         f"remaster {doc_id} captured from a noisier source"))
    return pd.DataFrame(rows, columns=COLUMNS)


def write_parquet(clips: pd.DataFrame, path: str) -> None:
    """Write ``clips`` as N_FILES parquet files (split by position), so
    Spark reads the input as several partitions, as it would a real
    table."""
    schema = pa.schema([("clip_id", pa.string()), ("bytes", pa.binary()),
                        ("sr_hz", pa.int32()), ("dur_ms", pa.int32()),
                        ("codec", pa.string()), ("transcript", pa.string())])
    os.makedirs(path)
    bounds = np.linspace(0, len(clips), N_FILES + 1).astype(int)
    for i in range(N_FILES):
        part = clips.iloc[bounds[i]:bounds[i + 1]]
        pq.write_table(pa.Table.from_pandas(part, schema=schema,
                                            preserve_index=False),
                       os.path.join(path, f"part-{i:05d}.parquet"))
