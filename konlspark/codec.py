"""Posting-block codec: delta + LEB128 varint, numpy-vectorized.

The reference stores one KV row per posting
(``/root/reference/konlsearch/set.py:54-95`` via
``inverted_index.py:60-63``); at 10^12-turn scale that layout is
untenable, so per the north rule we store block-compressed columnar
postings: sorted doc-id deltas + term frequencies + doc lengths, varint
encoded into ``binary`` columns, 128 postings per block by default.

Everything here is pure numpy (no Python-per-posting loops — at most 10
vectorized rounds per encode/decode regardless of block size). The
``*_blocks`` forms encode or decode every block of an Arrow batch in one
such pass; they are what the build's ``mapInArrow`` encoder runs, and
:func:`decode_blocks` is the one block → posting-row decode that the
merge and every query path run.
"""

from __future__ import annotations

from typing import Dict, Optional, Tuple

import numpy as np

from .oracle import BM25_B, BM25_K1

BLOCK_SIZE = 128

_U7 = np.uint64(7)
_U0x7F = np.uint64(0x7F)


def _varint_bytes(v: np.ndarray) -> Tuple[np.ndarray, np.ndarray]:
    """LEB128 bytes of a uint64 array, plus the byte count per value.

    One round per output byte position (≤10), each over only the values
    that still need that byte."""
    nb = np.ones(v.size, dtype=np.int64)
    tmp = v >> _U7
    while tmp.any():
        nb += (tmp > 0)
        tmp >>= _U7
    ends = np.cumsum(nb)
    out = np.empty(int(ends[-1]) if v.size else 0, dtype=np.uint8)
    idx, rem, work = ends - nb, nb, v
    while idx.size:
        more = rem > 1
        out[idx] = (work & _U0x7F).astype(np.uint8) | (
            more.astype(np.uint8) << np.uint8(7))
        idx, rem, work = idx[more] + 1, rem[more] - 1, work[more] >> _U7
    return out, nb


def encode_varint(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array (vectorized; ≤10 rounds)."""
    return _varint_bytes(np.ascontiguousarray(values, dtype=np.uint64))[0] \
        .tobytes()


def decode_varint(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes back to a uint64 array (vectorized)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_end = (b & 0x80) == 0
    ends = np.flatnonzero(is_end)
    starts = np.concatenate(([0], ends[:-1] + 1))
    # value index for each byte, then bit position within its varint
    vid = np.cumsum(is_end) - is_end
    pos = (np.arange(b.size) - starts[vid]).astype(np.uint64)
    contrib = (b & np.uint8(0x7F)).astype(np.uint64) << (_U7 * pos)
    return np.bitwise_or.reduceat(contrib, starts)


def encode_doc_ids(doc_ids: np.ndarray) -> bytes:
    """Delta-encode a strictly-increasing int64 doc-id array, then varint."""
    ids = np.ascontiguousarray(doc_ids, dtype=np.int64)
    if ids.size == 0:
        return b""
    deltas = np.empty(ids.size, dtype=np.uint64)
    deltas[0] = np.uint64(ids[0])
    if ids.size > 1:
        deltas[1:] = np.diff(ids).astype(np.uint64)
    return encode_varint(deltas)


def decode_doc_ids(buf: bytes) -> np.ndarray:
    deltas = decode_varint(buf)
    if deltas.size == 0:
        return np.empty(0, dtype=np.int64)
    return np.cumsum(deltas.astype(np.int64))


def encode_block(doc_ids: np.ndarray, tfs: np.ndarray,
                 doc_lens: np.ndarray) -> Tuple[bytes, bytes, bytes]:
    """Encode one posting block (sorted unique doc_ids + parallel arrays)."""
    return (
        encode_doc_ids(doc_ids),
        encode_varint(np.asarray(tfs, dtype=np.uint64)),
        encode_varint(np.asarray(doc_lens, dtype=np.uint64)),
    )


def decode_block(doc_ids_delta: bytes, tfs: bytes,
                 doc_lens: bytes) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    return (
        decode_doc_ids(doc_ids_delta),
        decode_varint(tfs).astype(np.int64),
        decode_varint(doc_lens).astype(np.int64),
    )


def encode_positions(pos_lists) -> Tuple[bytes, bytes]:
    """Encode per-doc occurrence-position lists for one posting block.

    Positional postings are the classic two-level layout (same family as
    the doc-id codec above): a varint array of per-doc position COUNTS,
    then every doc's positions delta-encoded (first absolute, then gaps)
    and varint-packed into one concatenated stream. Within-doc positions
    are strictly increasing, so gaps are small → ~1 byte/occurrence for
    typical turns. A token present only via the whitespace-set branch
    (tf floored at 1, not in the ordered morph stream) has count 0.
    """
    counts = np.fromiter((len(p) for p in pos_lists), dtype=np.uint64,
                         count=len(pos_lists))
    if counts.sum() == 0:
        return encode_varint(counts), b""
    flat = np.concatenate(
        [np.asarray(p, dtype=np.int64) for p in pos_lists if len(p)])
    # vectorized per-doc delta: subtract the previous element everywhere,
    # then restore each doc's FIRST position to its absolute value
    deltas = np.empty(flat.size, dtype=np.int64)
    deltas[0] = flat[0]
    np.subtract(flat[1:], flat[:-1], out=deltas[1:])
    starts = np.concatenate(([0], np.cumsum(counts[counts > 0])[:-1]
                             .astype(np.int64)))
    deltas[starts] = flat[starts]
    return encode_varint(counts), encode_varint(deltas.astype(np.uint64))


def decode_positions(counts_buf: bytes, vals_buf: bytes) -> list:
    """Inverse of :func:`encode_positions` → list of int64 arrays,
    one per doc in block order (empty array for count-0 docs)."""
    counts = decode_varint(counts_buf).astype(np.int64)
    vals = decode_varint(vals_buf).astype(np.int64)
    bounds = np.cumsum(counts)
    starts = bounds - counts
    return [np.cumsum(vals[s:e]) for s, e in zip(starts, bounds)]


# ---------------------------------------------------------------------------
# Whole-batch forms: many blocks per call, Arrow binary columns in and out
# ---------------------------------------------------------------------------
#
# LEB128 streams concatenate: the bytes of blocks [a, b, c] encoded one
# by one, joined, equal the bytes of a+b+c encoded at once. So a whole
# Arrow batch of blocks is encoded (or decoded) in ONE vectorized pass
# over its values, and the block boundaries are just byte offsets —
# exactly the offsets buffer of an Arrow ``binary`` column. Each block
# value below is byte-identical to the per-block function it mirrors.

def encode_varint_blocks(values: np.ndarray, starts: np.ndarray):
    """Varint-encode ``values`` as one ``pa.BinaryArray`` with a value per
    block; block ``i`` holds ``values[starts[i]:starts[i + 1]]`` (the last
    runs to the end). ``starts`` is non-decreasing (empty blocks allowed).
    Each value equals ``encode_varint`` of its slice."""
    import pyarrow as pa
    out, nb = _varint_bytes(np.ascontiguousarray(values, dtype=np.uint64))
    cum = np.zeros(nb.size + 1, dtype=np.int64)
    np.cumsum(nb, out=cum[1:])
    offsets = np.append(cum[starts], cum[-1]).astype(np.int32)
    return pa.BinaryArray.from_buffers(
        pa.binary(), len(starts),
        [None, pa.py_buffer(offsets), pa.py_buffer(out)])


def encode_doc_id_blocks(doc_ids: np.ndarray, starts: np.ndarray):
    """Per-block :func:`encode_doc_ids` (first id absolute, then gaps)
    over a batch whose ids increase within every block."""
    ids = np.ascontiguousarray(doc_ids, dtype=np.int64)
    deltas = np.empty(ids.size, dtype=np.int64)
    if ids.size:
        deltas[0] = ids[0]
        np.subtract(ids[1:], ids[:-1], out=deltas[1:])
        deltas[starts] = ids[starts]
    return encode_varint_blocks(deltas.astype(np.uint64), starts)


def encode_positions_blocks(counts: np.ndarray, flat: np.ndarray,
                            starts: np.ndarray):
    """Per-block :func:`encode_positions` → ``(pos_counts, positions)``
    binary arrays. ``counts[r]`` is row ``r``'s position count and
    ``flat`` all rows' positions concatenated; ``starts`` are block
    starts in row space."""
    counts = np.asarray(counts, dtype=np.int64)
    flat = np.asarray(flat, dtype=np.int64)
    row_off = np.zeros(counts.size + 1, dtype=np.int64)
    np.cumsum(counts, out=row_off[1:])
    deltas = np.empty(flat.size, dtype=np.int64)
    if flat.size:
        deltas[0] = flat[0]
        np.subtract(flat[1:], flat[:-1], out=deltas[1:])
        first = row_off[:-1][counts > 0]
        deltas[first] = flat[first]
    return (encode_varint_blocks(counts.astype(np.uint64), starts),
            encode_varint_blocks(deltas.astype(np.uint64), row_off[starts]))


def _binary_stream(arr) -> memoryview:
    """The data bytes behind every value of a (possibly sliced) Arrow
    binary array, concatenated in order."""
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int32,
                         count=len(arr) + 1, offset=4 * arr.offset)
    data = arr.buffers()[2]
    return memoryview(b"" if data is None else data)[offs[0]:offs[-1]]


def _segment_cumsum(vals: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """Running sum restarting at every segment of ``lengths``."""
    c = np.cumsum(vals)
    c0 = np.concatenate(([0], c))
    starts = np.cumsum(lengths) - lengths
    return c - np.repeat(c0[starts], lengths)


def decode_varint_blocks(arr) -> np.ndarray:
    """All values of every block of a binary column, concatenated."""
    return decode_varint(_binary_stream(arr))


def decode_doc_id_blocks(arr, n: np.ndarray) -> np.ndarray:
    """Inverse of :func:`encode_doc_id_blocks`; ``n[i]`` = ids in block i."""
    deltas = decode_varint_blocks(arr).astype(np.int64)
    return _segment_cumsum(deltas, np.asarray(n, dtype=np.int64))


def decode_positions_blocks(counts_arr, pos_arr):
    """Inverse of :func:`encode_positions_blocks` → ``(counts, flat)``:
    per-row position counts and every row's positions concatenated."""
    counts = decode_varint_blocks(counts_arr).astype(np.int64)
    deltas = decode_varint_blocks(pos_arr).astype(np.int64)
    return counts, _segment_cumsum(deltas, counts)


def bm25_weight(tfs: np.ndarray, doc_lens: np.ndarray,
                avgdl: float) -> np.ndarray:
    """idf-less BM25 term weight (idf applied at query time from df)."""
    tfs = tfs.astype(np.float64)
    return (tfs * (BM25_K1 + 1.0)) / (
        tfs + BM25_K1 * (1.0 - BM25_B + BM25_B * doc_lens.astype(np.float64) / avgdl)
    )


def decode_blocks(batch, avgdl: Optional[float] = None,
                  idf: Optional[Dict[str, float]] = None):
    """Posting blocks → posting rows: one vectorised pass over a whole
    Arrow batch (the inverse of the build's encoder).

    ``batch`` carries ``n`` (postings per block) plus any of the block
    columns, decoded in this output order: ``term`` and ``salt``
    repeated per posting, ``doc_ids_delta`` → ``doc_id``, ``tfs`` →
    ``tf``, ``doc_lens`` → ``doc_len``, ``pos_counts`` + ``positions``
    → ``positions`` (``list<int32>``). With ``avgdl`` (which needs
    ``term``, ``tfs`` and ``doc_lens``) a ``score`` column follows:
    ``idf[term] · bm25_weight(tf, doc_len, avgdl)``, 0 for a term
    missing from ``idf``."""
    import pyarrow as pa
    import pyarrow.compute as pc
    cols = batch.schema.names
    out = {}
    n = batch.column("n").to_numpy().astype(np.int64)
    rows = np.repeat(np.arange(batch.num_rows), n)
    if "term" in cols:
        out["term"] = batch.column("term").take(pa.array(rows))
    if "salt" in cols:
        out["salt"] = pa.array(batch.column("salt").to_numpy()[rows],
                               pa.int32())
    if "doc_ids_delta" in cols:
        out["doc_id"] = pa.array(
            decode_doc_id_blocks(batch.column("doc_ids_delta"), n))
    if "tfs" in cols:
        tf = decode_varint_blocks(batch.column("tfs")).astype(np.int32)
        out["tf"] = pa.array(tf)
    if "doc_lens" in cols:
        dl = decode_varint_blocks(batch.column("doc_lens")).astype(np.int32)
        out["doc_len"] = pa.array(dl)
    if "pos_counts" in cols:
        counts, flat = decode_positions_blocks(
            batch.column("pos_counts"), batch.column("positions"))
        offsets = np.zeros(counts.size + 1, dtype=np.int32)
        np.cumsum(counts, out=offsets[1:])
        out["positions"] = pa.ListArray.from_arrays(
            pa.array(offsets), pa.array(flat.astype(np.int32)))
    if avgdl is not None:
        idf = idf or {}
        vals = np.append(np.fromiter(idf.values(), dtype=np.float64,
                                     count=len(idf)), 0.0)
        hit = pc.index_in(batch.column("term"),
                          value_set=pa.array(list(idf), pa.string()))
        idf_block = vals[hit.fill_null(len(idf)).to_numpy()]
        out["score"] = pa.array(bm25_weight(tf, dl, avgdl) * idf_block[rows])
    return pa.RecordBatch.from_arrays(list(out.values()), names=list(out))
