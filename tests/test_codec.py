"""Property tests for the delta+varint posting-block codec (FIXTURES.md §3)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from konlspark import codec


@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=500))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    assert np.array_equal(codec.decode_varint(codec.encode_varint(arr)), arr)


@given(
    st.lists(st.integers(min_value=1, max_value=2**40), min_size=1,
             max_size=2000, unique=True)
)
@settings(max_examples=100, deadline=None)
def test_doc_id_delta_roundtrip(ids):
    arr = np.array(sorted(ids), dtype=np.int64)
    assert np.array_equal(codec.decode_doc_ids(codec.encode_doc_ids(arr)), arr)


def test_empty_arrays():
    assert codec.encode_varint(np.empty(0, dtype=np.uint64)) == b""
    assert codec.decode_varint(b"").size == 0
    assert codec.decode_doc_ids(b"").size == 0


def test_block_roundtrip():
    rng = np.random.default_rng(42)
    ids = np.sort(rng.choice(10**9, size=128, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 100, size=128)
    lens = rng.integers(1, 500, size=128)
    d, t, ln = codec.encode_block(ids, tfs, lens)
    ids2, tfs2, lens2 = codec.decode_block(d, t, ln)
    assert np.array_equal(ids2, ids)
    assert np.array_equal(tfs2, tfs)
    assert np.array_equal(lens2, lens)


def test_compression_is_real():
    # dense ids → ~1 byte per delta, 8x better than raw int64
    ids = np.arange(1, 100001, dtype=np.int64)
    enc = codec.encode_doc_ids(ids)
    assert len(enc) < 0.15 * ids.nbytes


@pytest.mark.parametrize("n", [0, 1, 2, 127, 128, 129, 10000])
def test_block_boundaries(n):
    ids = np.arange(1, n + 1, dtype=np.int64) * 3
    assert np.array_equal(codec.decode_doc_ids(codec.encode_doc_ids(ids)), ids)


# -- the build's batch encoder vs a per-block reference -----------------------

@st.composite
def _sorted_posting_batches(draw):
    """Random (term, salt, doc_id)-sorted posting rows cut into Arrow
    batches of random sizes, so runs straddle batch AND block bounds."""
    import pyarrow as pa
    store_positions = draw(st.booleans())
    block_size = draw(st.integers(min_value=1, max_value=8))
    run_lens = draw(st.lists(st.integers(min_value=1, max_value=40),
                             min_size=1, max_size=12))
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    terms, salts, ids, tfs, lens, poss = [], [], [], [], [], []
    for r, n in enumerate(run_lens):
        # consecutive runs alternate: same term with a new salt, then a
        # new term with the same salt
        term, salt = f"가{r // 2}", ((r + 1) // 2) % 2
        run_ids = np.sort(rng.choice(2**40, size=n, replace=False)) + 1
        for d in run_ids:
            tf = int(rng.integers(1, 300))
            terms.append(term)
            salts.append(salt)
            ids.append(int(d))
            tfs.append(tf)
            lens.append(int(rng.integers(tf, 10**5)))
            k = int(rng.integers(0, min(tf, 20) + 1))
            poss.append(sorted(rng.choice(10**4, size=k, replace=False)
                               .tolist()))
    n_rows = len(ids)
    cuts = sorted(draw(st.sets(st.integers(min_value=1,
                                           max_value=max(1, n_rows - 1)),
                               max_size=8)))
    table = pa.table({
        "term": pa.array(terms, pa.string()),
        "salt": pa.array(salts, pa.int32()),
        "doc_id": pa.array(ids, pa.int64()),
        "tf": pa.array(tfs, pa.int32()),
        "doc_len": pa.array(lens, pa.int32()),
        **({"positions": pa.array(poss, pa.list_(pa.int32()))}
           if store_positions else {}),
    })
    bounds = [0] + [c for c in cuts if c < n_rows] + [n_rows]
    batches = [table.slice(lo, hi - lo).combine_chunks().to_batches()[0]
               for lo, hi in zip(bounds, bounds[1:])]
    avgdl = draw(st.floats(min_value=1.0, max_value=500.0))
    return batches, block_size, store_positions, avgdl, table.to_pylist()


@given(_sorted_posting_batches())
@settings(max_examples=150, deadline=None)
def test_batch_encoder_matches_per_block_reference(case):
    """Byte-identical blocks and exact block maxima, whatever the batch
    cuts; decoding the blocks gives the rows back."""
    from itertools import groupby

    from konlspark.build import encode_postings
    batches, block_size, store_positions, avgdl, rows = case
    want = []
    for (term, salt), grp in groupby(rows, key=lambda r: (r["term"],
                                                          r["salt"])):
        grp = list(grp)
        for seq, lo in enumerate(range(0, len(grp), block_size)):
            blk = grp[lo:lo + block_size]
            ids = np.array([r["doc_id"] for r in blk], dtype=np.int64)
            tfs = np.array([r["tf"] for r in blk], dtype=np.int64)
            lens = np.array([r["doc_len"] for r in blk], dtype=np.int64)
            row = (term, salt, seq, len(blk), int(ids[0]), int(ids[-1]),
                   *codec.encode_block(ids, tfs, lens), int(tfs.max()),
                   float(codec.bm25_weight(tfs, lens, avgdl).max()))
            if store_positions:
                row += codec.encode_positions([r["positions"] for r in blk])
            want.append(row)
    outs = list(encode_postings(iter(batches), avgdl, block_size,
                                store_positions))
    assert [tuple(r.values()) for out in outs
            for r in out.to_pylist()] == want
    # the segment merge's decode inverts the encode
    assert [r for out in outs for r in
            codec.decode_blocks(out).to_pylist()] == rows


# -- the shared block -> rows decode vs the per-block reference ----------------

@st.composite
def _block_batches(draw):
    """Random posting blocks as one Arrow batch (the columns a query
    decode reads), possibly sliced to offset != 0 or to zero rows."""
    import pyarrow as pa
    n_blocks = draw(st.integers(min_value=0, max_value=10))
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    cols = {c: [] for c in ("term", "n", "doc_ids_delta", "tfs",
                            "doc_lens", "pos_counts", "positions")}
    for _ in range(n_blocks):
        n = draw(st.sampled_from([1, 1, 2, 7, 64]))  # single-posting blocks
        ids = np.sort(rng.choice(2**40, size=n, replace=False)) + 1
        tfs = rng.integers(1, 300, size=n)
        lens = tfs + rng.integers(0, 10**5, size=n)
        pos = [np.sort(rng.choice(10**4, size=int(rng.integers(0, 6)),
                                  replace=False)) for _ in range(n)]
        cols["term"].append(f"가{int(rng.integers(0, 4))}")
        cols["n"].append(n)
        for c, v in zip(("doc_ids_delta", "tfs", "doc_lens"),
                        codec.encode_block(ids, tfs, lens)):
            cols[c].append(v)
        pc_, pv = codec.encode_positions(pos)
        cols["pos_counts"].append(pc_)
        cols["positions"].append(pv)
    batch = pa.RecordBatch.from_arrays(
        [pa.array(cols["term"], pa.string()), pa.array(cols["n"], pa.int32())]
        + [pa.array(cols[c], pa.binary()) for c in
           ("doc_ids_delta", "tfs", "doc_lens", "pos_counts", "positions")],
        names=list(cols))
    lo = draw(st.integers(min_value=0, max_value=n_blocks))
    hi = draw(st.integers(min_value=lo, max_value=n_blocks))
    idf = {f"가{t}": draw(st.floats(min_value=0.01, max_value=20.0))
           for t in draw(st.sets(st.integers(0, 4)))}
    avgdl = draw(st.floats(min_value=1.0, max_value=500.0))
    return batch.slice(lo, hi - lo), idf, avgdl


@given(_block_batches())
@settings(max_examples=150, deadline=None)
def test_block_decode_matches_per_block_reference(case):
    """``codec.decode_blocks`` — the one decode loop of the merge and
    every query path — equals the per-block ``decode_block`` /
    ``decode_positions`` decode byte for byte, BM25 scores included
    (the per-block weight the query engine computed before it)."""
    from konlspark.oracle import BM25_B, BM25_K1
    batch, idf, avgdl = case
    want = {"term": [], "doc_id": [], "tf": [], "doc_len": [],
            "positions": [], "score": []}
    for r in batch.to_pylist():
        ids, tfs, lens = codec.decode_block(r["doc_ids_delta"], r["tfs"],
                                            r["doc_lens"])
        w = (tfs * (BM25_K1 + 1.0)) / (
            tfs + BM25_K1 * (1.0 - BM25_B + BM25_B * lens / avgdl))
        want["term"] += [r["term"]] * len(ids)
        want["doc_id"] += ids.tolist()
        want["tf"] += tfs.tolist()
        want["doc_len"] += lens.tolist()
        want["positions"] += [p.tolist() for p in codec.decode_positions(
            r["pos_counts"], r["positions"])]
        want["score"].append(w * idf.get(r["term"], 0.0))
    got = codec.decode_blocks(batch, avgdl, idf)
    assert got.schema.names == list(want)
    for c in ("term", "doc_id", "tf", "doc_len", "positions"):
        assert got.column(c).to_pylist() == want[c], c
    score = (np.concatenate(want["score"]) if want["score"]
             else np.empty(0, dtype=np.float64))
    assert got.column("score").to_numpy().tobytes() == score.tobytes()
    # the lean boolean-search projection decodes the same ids
    ids_only = codec.decode_blocks(batch.select(["n", "doc_ids_delta"]))
    assert ids_only.schema.names == ["doc_id"]
    assert ids_only.column("doc_id").to_pylist() == want["doc_id"]
