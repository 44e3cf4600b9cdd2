"""Output checks: engine answers against ``konlspark.oracle.OracleIndex``
and ops answers against plain-Python references of the same definitions.

A check returns ``None`` when the answer is right and a short reason
string when it is not.
"""

from __future__ import annotations

import hashlib
import re
from typing import Dict, Iterable, List, Optional, Sequence, Tuple

import numpy as np

SCORE_TOL = 1e-6
_WS = re.compile(r"[ \t\n\x0b\f\r]+")  # java.util.regex \s


def topk(got: Sequence[Tuple[int, float]], want: Sequence[Tuple[int, float]],
         all_scores=None) -> Optional[str]:
    """Top-k ids in rank order with scores within :data:`SCORE_TOL`.

    Where ids differ only among scores tied to within float rounding,
    ``all_scores()`` (every matching doc's oracle score) decides whether
    ``got`` is still a valid top-k: each score right, ranks ordered, and
    no doc left out that beats the last one kept.
    """
    if len(got) == len(want) and all(
            g[0] == w[0] and abs(g[1] - w[1]) <= SCORE_TOL
            for g, w in zip(got, want)):
        return None
    if all_scores is None or len(got) != len(want):
        return f"top-k differs: got {list(got)[:3]}.. want {list(want)[:3]}.."
    full: Dict[int, float] = all_scores()
    for doc_id, score in got:
        if doc_id not in full or abs(full[doc_id] - score) > SCORE_TOL:
            return f"doc {doc_id} score {score} not the oracle's"
    if any(got[i][1] < got[i + 1][1] - SCORE_TOL for i in range(len(got) - 1)):
        return "top-k not in descending score order"
    kept = {d for d, _ in got}
    floor = min((s for _, s in got), default=float("inf"))
    if any(s > floor + SCORE_TOL for d, s in full.items() if d not in kept):
        return "top-k leaves out a higher-scoring doc"
    return None


def same(got, want, what: str) -> Optional[str]:
    if got == want:
        return None
    return f"{what} differs: got {len(got)} items, want {len(want)}"


# -- ops references ---------------------------------------------------------

def tokens(text: str) -> List[str]:
    """``ops.dedup._tokens``: lower-case, split on whitespace, no empties."""
    return [t for t in _WS.split(text.lower()) if t]


def shingles(text: str, n: int) -> List[str]:
    """``ops.dedup._shingles_of``: distinct word n-grams in first-seen
    order, or the whole token string for docs shorter than ``n``."""
    toks = tokens(text)
    if len(toks) < n:
        return [" ".join(toks)]
    return list(dict.fromkeys(" ".join(toks[i:i + n])
                              for i in range(len(toks) - n + 1)))


def jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def jaccard_pairs(texts: Dict[int, str], n: int, threshold: float,
                  max_df: int = 10_000) -> Dict[Tuple[int, int], float]:
    """Exact ``shingle_pairs_jaccard``: pairs sharing a shingle of doc
    frequency <= ``max_df`` whose shingle-set Jaccard is >= threshold."""
    sets = {i: set(shingles(t, n)) for i, t in texts.items()}
    index: Dict[str, List[int]] = {}
    for i, sh in sets.items():
        for s in sh:
            index.setdefault(s, []).append(i)
    cands = set()
    for ids in index.values():
        if 1 < len(ids) <= max_df:
            ids = sorted(ids)
            cands.update((a, b) for x, a in enumerate(ids) for b in ids[x + 1:])
    out = {}
    for a, b in cands:
        j = jaccard(sets[a], sets[b])
        if j >= threshold:
            out[(a, b)] = j
    return out


SIMHASH_BITS = 60


def simhashes(texts: Dict[int, str], n: int = 2) -> Dict[int, int]:
    """``ops.dedup.simhash_signatures``: per-bit majority vote over the
    60-bit md5 prefixes of a doc's distinct word n-grams."""
    bit = np.arange(SIMHASH_BITS, dtype=np.int64)
    out = {}
    for i, t in texts.items():
        hs = np.array([int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
                       for s in shingles(t, n)], dtype=np.int64)
        votes = (((hs[:, None] >> bit) & 1) * 2 - 1).sum(axis=0)
        out[i] = int(((votes > 0).astype(np.int64) << bit).sum())
    return out


def simhash_pairs(sigs: Dict[int, int], max_hamming: int
                  ) -> Dict[Tuple[int, int], int]:
    """All pairs within ``max_hamming`` bits (the op is exact by the
    pigeonhole banding, so this is its full answer)."""
    chunks = max_hamming + 1
    width = -(-SIMHASH_BITS // chunks)
    buckets: Dict[Tuple[int, int], List[int]] = {}
    for i, s in sigs.items():
        for c in range(chunks):
            buckets.setdefault((c, (s >> (c * width)) & ((1 << width) - 1)),
                               []).append(i)
    out = {}
    for ids in buckets.values():
        ids = sorted(ids)
        for x, a in enumerate(ids):
            for b in ids[x + 1:]:
                h = bin(sigs[a] ^ sigs[b]).count("1")
                if h <= max_hamming:
                    out[(a, b)] = h
    return out


def cosine_scores(vecs: np.ndarray, ids: np.ndarray, q: Sequence[float]
                  ) -> List[Tuple[int, float]]:
    """Every row's cosine to ``q`` as ``ops.similarity.cosine_topk``
    computes it (left-to-right float64 sums), best first, ties by id.
    The op rounds to 6 places, within :data:`SCORE_TOL` of these."""
    v = vecs.astype(np.float64)
    qv = np.asarray(q, dtype=np.float64)
    dot = np.cumsum(v * qv, axis=1)[:, -1]
    norm = np.sqrt(np.cumsum(v * v, axis=1)[:, -1])
    qn = float(np.sqrt(np.cumsum(qv * qv)[-1]))
    cos = dot / (np.maximum(norm, 1e-12) * max(qn, 1e-12))
    return [(int(ids[i]), float(cos[i])) for i in np.lexsort((ids, -cos))]


def text_totals(texts: Iterable[str]) -> Dict[str, int]:
    """Totals the textstats pass reports: whitespace tokens, characters
    and distinct normalised texts."""
    texts = list(texts)
    return {
        "n_tokens": sum(len(tokens(t)) for t in texts),
        "n_chars": sum(len(t) for t in texts),
        "n_distinct_fp": len({_WS.sub(" ", t.strip(" ").lower())
                              for t in texts}),
    }


def corrupt(value):
    """A wrong copy of an expected answer, for the self-test that proves
    the checks are not vacuous."""
    if isinstance(value, int):
        return value + 1
    if isinstance(value, dict):
        return {**value, ("corrupt",): 0}
    if value and isinstance(value[0], tuple):
        return [(value[0][0], value[0][1] + 1.0)] + list(value[1:])
    return list(value) + [None]
