"""Seeded benchmark inputs and their digests.

Everything here is a pure function of ``(seed, size)`` and runs before
any timed window. Each workload's inputs are summarised by a digest
(:func:`digest`) that is printed with its result, so a change to the
input generators (``konlspark.corpus`` included) reads as a different
workload rather than as a speed change.
"""

from __future__ import annotations

import hashlib
import json
from typing import Dict, List, Sequence

import numpy as np
import pandas as pd

CLUSTER_TOKEN = "topicmarker"


def digest(*parts) -> str:
    h = hashlib.sha256()
    for part in parts:
        if isinstance(part, pd.DataFrame):
            for col in part.columns:
                h.update(col.encode())
                h.update("\x1f".join(map(str, part[col].tolist())).encode())
        else:
            h.update(json.dumps(part, sort_keys=True, ensure_ascii=False,
                                default=str).encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def transcripts(spark, n_turns: int, seed: int, cluster_rows: int):
    """``n_turns`` synthetic transcript turns of 3-60 words (Zipf head
    terms, reference titles, exact duplicates) from
    ``konlspark.corpus.spark_make_transcripts``, the first
    ``cluster_rows`` of them carrying a temporally clustered rare term.
    Every row is a pure function of its row id and the seed, so a longer
    corpus extends a shorter one. Returns the cached Spark DataFrame and
    its rows on the driver in ``(conv_id, turn_idx)`` order."""
    from konlspark import corpus
    sdf = corpus.spark_make_transcripts(
        spark, n_turns, seed=seed, min_words=3, max_words=60,
        cluster_token=CLUSTER_TOKEN, cluster_rows=cluster_rows).cache()
    pdf = (sdf.toPandas().sort_values(["conv_id", "turn_idx"])
           .reset_index(drop=True))
    return sdf, pdf


def term_strata(postings: Dict[str, set]) -> Dict[str, List[str]]:
    """Indexed terms split by document frequency: the top 5% (head),
    the bottom half (rare) and the rest (mid), each most-frequent first."""
    terms = sorted(postings, key=lambda t: (-len(postings[t]), t))
    n = len(terms)
    n_head = max(1, n // 20)
    n_rare = max(1, n // 2)
    return {"head": terms[:n_head], "mid": terms[n_head:n - n_rare] or
            terms[:n_head], "rare": terms[n - n_rare:]}


class TermSampler:
    """Zipf-popular draws from one df stratum, so popular terms repeat
    across queries the way they do in a real query log."""

    def __init__(self, strata: Dict[str, List[str]], rng):
        self.strata = strata
        self.rng = rng

    def draw(self, stratum: str, k: int = 1) -> List[str]:
        terms = self.strata[stratum]
        w = 1.0 / np.arange(1, len(terms) + 1) ** 1.1
        idx = self.rng.choice(len(terms), size=min(k, len(terms)),
                              replace=False, p=w / w.sum())
        return [terms[i] for i in idx]


# The query shapes asked after each refresh of the live index: every
# shape the engine answers, in a fixed order so that every run times the
# same mix; only the terms change with the seed.
ROUND_QUERIES = (
    ("bm25", ("head",)),
    ("bm25", ("rare", "head")),
    ("bm25", ("head", "mid", "rare")),
    ("and", ("mid", "mid")),
    ("phrase", ("mid", "mid")),
    ("suggest", ("mid",)),
    ("batch", ()),
)
# ... and after each compaction, on the clean snapshot
COMPACT_QUERIES = (
    ("bm25", ("mid", "mid")),
    ("or", ("rare", "rare")),
)
BATCH_SIZE = 16


def query_set(shapes, sampler: TermSampler, tag: str) -> List[dict]:
    """One query per shape, terms drawn from the shape's df strata."""
    out = []
    for n, (kind, strata) in enumerate(shapes):
        if kind == "batch":
            queries = {}
            for b in range(BATCH_SIZE):
                pair = sampler.draw("mid") + sampler.draw(("head", "rare")[b % 2])
                queries[f"{tag}q{n}b{b:02d}"] = list(dict.fromkeys(pair))
            out.append({"kind": kind, "queries": queries})
        elif kind == "suggest":
            out.append({"kind": kind, "prefix": sampler.draw(strata[0])[0][:1]})
        else:
            terms: List[str] = []
            for stratum in strata:
                for t in sampler.draw(stratum, len(strata)):
                    if t not in terms:
                        terms.append(t)
                        break
            out.append({"kind": kind, "terms": terms})
    return out


def churn_round(pool: pd.DataFrame, n_base: int, live_texts: Sequence[str],
                append_turns: int, n_delete: int, dup_share: float,
                seed: int) -> dict:
    """The ``append_turns`` pool turns after the base, with a
    ``dup_share`` of them overwritten by copies of live base texts
    (dedup against live docs), and ``n_delete`` seeded draws in [0, 1)
    that pick the docs to delete from the live ids."""
    rng = np.random.default_rng([seed, 3])
    batch = pool.iloc[n_base:n_base + append_turns].copy().reset_index(
        drop=True)
    n_dup = int(round(dup_share * len(batch)))
    rows = rng.choice(len(batch), size=n_dup, replace=False)
    src = rng.choice(len(live_texts), size=n_dup)
    batch.loc[rows, "text"] = [live_texts[i] for i in src]
    return {"append": batch, "delete_draws": rng.random(n_delete).tolist()}


def _syllables() -> List[str]:
    # 588 Hangul syllables (initial g; 21 vowels x 28 finals): word
    # pieces for the ops corpus, whose vocabulary must be wide enough
    # that shingles rarely repeat by chance
    return [chr(0xAC00 + v * 28 + f) for v in range(21) for f in range(28)]


def ops_corpus(n_docs: int, dup_share: float, seed: int):
    """``n_docs`` texts of 15-40 words over a 20k-word vocabulary with a
    flat Zipf(0.8) skew, so that word 3-shingles shared by chance stay
    few and the near-duplicate work dominates; a ``dup_share`` of them are near-duplicates of an earlier text with
    one word replaced. Returns ``(pdf(doc_id, text), injected_pairs)``
    with ``injected_pairs`` as ``(original_id, copy_id)``."""
    rng = np.random.default_rng([seed, 4])
    syl = _syllables()
    pieces = rng.integers(0, len(syl), size=(20_000, 3))
    vocab = ["".join(syl[j] for j in row[:2 + (i % 2)])
             for i, row in enumerate(pieces)]
    w = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    w /= w.sum()
    lengths = rng.integers(15, 41, size=n_docs)
    words = rng.choice(len(vocab), size=int(lengths.sum()), p=w)
    texts, pairs, pos = [], [], 0
    is_copy = rng.random(n_docs) < dup_share
    for i in range(n_docs):
        ln = int(lengths[i])
        if is_copy[i] and i > 0:
            src = int(rng.integers(0, i))
            toks = texts[src].split(" ")
            toks[int(rng.integers(0, len(toks)))] = vocab[
                int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(toks))
            pairs.append((src + 1, i + 1))
        else:
            texts.append(" ".join(vocab[j] for j in words[pos:pos + ln]))
        pos += ln
    pdf = pd.DataFrame({"doc_id": np.arange(1, n_docs + 1, dtype=np.int64),
                        "text": texts})
    return pdf, pairs


def embeddings(n: int, dim: int, seed: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 5])
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    return pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64),
                         "embedding": list(vecs)})
