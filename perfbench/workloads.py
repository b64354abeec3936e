"""Workload inputs, the reference clustering and the output check.

Each workload is a clips corpus drawn from ``--seed`` by
perfbench/corpus.py.
The reference is the single-process numpy oracle
(``oracle.run_oracle``) over the same corpus.  Both are cached under the
work directory, keyed by workload, seed, size and a digest of the source
files that decide their content; every cache entry is written to a
temporary path and renamed into place, so an interrupted write never
leaves a half-written entry behind.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass

import pandas as pd

import corpus as C

# files whose content decides the reference clusters (the corpus is
# decided by perfbench/corpus.py, added to the digest below)
DIGEST_FILES = (
    "locality_sensitive_hashing_spark/oracle.py",
    "locality_sensitive_hashing_spark/hashing.py",
    "locality_sensitive_hashing_spark/audio.py",
    "locality_sensitive_hashing_spark/config.py",
    "locality_sensitive_hashing_spark/operators/audio_lsh.py",
    "locality_sensitive_hashing_spark/operators/audio_fingerprint.py",
)


@dataclass(frozen=True)
class Workload:
    name: str
    docs: int  # source documents at scale 1.0

    def n_docs(self, scale: float) -> int:
        return max(20, int(round(self.docs * scale)))


WORKLOADS = {
    # original, exact copy and two near-variant transcripts per document
    "text_nearvar": Workload("text_nearvar", 500),
    # 1000 ms clips with trimmed/noisy/republished/quiet variants
    "audio_families": Workload("audio_families", 800),
}

# planted duplicate classes: suffix of the variant clip id -> class name
AUDIO_CLASSES = ("t", "z", "r", "q")
PLANTED_CLASSES = ("x",) + AUDIO_CLASSES


def code_digest(root: str) -> str:
    h = hashlib.sha256()
    paths = [os.path.join(root, rel) for rel in DIGEST_FILES]
    for path in paths + [C.__file__]:
        with open(path, "rb") as f:
            h.update(os.path.basename(path).encode() + b"\0" + f.read())
    return h.hexdigest()[:16]


def cache_key(wl: Workload, seed: int, scale: float, root: str) -> str:
    return f"{wl.name}-s{seed}-d{wl.n_docs(scale)}-{code_digest(root)}"


def _publish(tmp: str, final: str) -> None:
    """Rename a finished temp entry into place (another run may have
    published the same key first; its entry is identical)."""
    try:
        os.rename(tmp, final)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(final):
            raise


def corpus(wl: Workload, seed: int, scale: float, key: str,
           cache_dir: str) -> tuple[str, pd.DataFrame]:
    """(parquet dir, clips frame) of the workload's corpus."""
    final = os.path.join(cache_dir, f"corpus-{key}")
    if os.path.isdir(final):
        return final, pd.read_parquet(final)
    build = C.text_nearvar if wl.name == "text_nearvar" else C.audio_families
    clips = build(seed, wl.n_docs(scale))
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    C.write_parquet(clips, tmp)
    _publish(tmp, final)
    return final, clips


def reference(clips: pd.DataFrame, key: str, cache_dir: str) -> dict:
    """clip_id -> reference cluster label, from the numpy oracle."""
    final = os.path.join(cache_dir, f"ref-{key}.parquet")
    if not os.path.exists(final):
        from locality_sensitive_hashing_spark.config import DEFAULT_CONFIG
        from locality_sensitive_hashing_spark.oracle import run_oracle

        res = run_oracle(clips, DEFAULT_CONFIG)
        tmp = f"{final}.tmp-{os.getpid()}"
        res.clusters[["clip_id", "cluster_id"]].to_parquet(tmp, index=False)
        _publish(tmp, final)
    ref = pd.read_parquet(final)
    return dict(zip(ref["clip_id"], ref["cluster_id"]))


# -- checks ----------------------------------------------------------------

def canonical(assign: dict) -> dict:
    """clip_id -> smallest clip_id of its cluster: a labelling-free form
    of a partition, so two clusterings compare member by member."""
    low: dict = {}
    for clip, cl in assign.items():
        if cl not in low or clip < low[cl]:
            low[cl] = clip
    return {clip: low[cl] for clip, cl in assign.items()}


def agreement(got: dict, ref: dict) -> float:
    """Share of the reference's clips whose cluster (as a member set)
    equals the reference's; a clip missing from ``got`` disagrees."""
    if not ref:
        return 1.0
    cg, cr = canonical(got), canonical(ref)
    members_g: dict = {}
    for clip, lo in cg.items():
        members_g.setdefault(lo, set()).add(clip)
    members_r: dict = {}
    for clip, lo in cr.items():
        members_r.setdefault(lo, set()).add(clip)
    same = sum(
        1 for clip, lo in cr.items()
        if clip in cg and members_g[cg[clip]] == members_r[lo]
    )
    return same / len(ref)


def planted_pairs(clip_ids) -> dict[str, list[tuple[str, str]]]:
    """Planted duplicate pairs by class, read off the fixture clip ids:
    ``doc<d>r00``/``doc<d>r01`` (exact copy, class x) and
    ``a<d>b``/``a<d><c>`` for the audio variant classes."""
    ids = set(clip_ids)
    out: dict[str, list[tuple[str, str]]] = {c: [] for c in PLANTED_CLASSES}
    for cid in ids:
        if cid.startswith("doc") and cid.endswith("r01"):
            src = cid[:-3] + "r00"
            if src in ids:
                out["x"].append((src, cid))
        elif cid.startswith("a") and cid[-1] in AUDIO_CLASSES:
            src = cid[:-1] + "b"
            if src in ids:
                out[cid[-1]].append((src, cid))
    return out


def recall(got: dict, pairs: dict) -> dict[str, tuple[int, int]]:
    """class -> (merged, planted)."""
    return {
        c: (sum(1 for a, b in ps if a in got and b in got
                and got[a] == got[b]), len(ps))
        for c, ps in pairs.items()
    }


def source_doc(clip_id: str) -> str:
    return clip_id[:11] if clip_id.startswith("doc") else clip_id[:9]


def multi_source_clusters(assign: dict) -> tuple[int, int]:
    """(clusters spanning more than one source document, the most
    source documents any one cluster spans)."""
    docs: dict = {}
    for clip, cl in assign.items():
        docs.setdefault(cl, set()).add(source_doc(clip))
    spans = [len(d) for d in docs.values()] or [0]
    return sum(1 for n in spans if n > 1), max(spans)

