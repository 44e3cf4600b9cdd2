"""Tests for the training-data pipeline operators (dedup / similarity /
textstats / multimodal plumbing) against pure-pandas oracles."""

import hashlib
import itertools
import re
from collections import defaultdict

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from konlspark.ops import dedup, multimodal, similarity, textstats

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),
    (2, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
    (3, "completely different words appear in this one"),
    (4, "the quick brown fox leaps over the lazy dog"),
    (5, "lorem ipsum dolor sit amet consectetur adipiscing"),
    (6, "the quick brown fox jumps over a sleepy dog"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _py_shingles(text, n=3):
    toks = text.lower().split()
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def test_exact_dedup(docs_df):
    out = dedup.exact_dedup(docs_df).orderBy("doc_id").collect()
    ids = [r["doc_id"] for r in out]
    assert ids == [0, 1, 3, 4, 5, 6]  # 2 deduped into 0
    assert [r["dup_count"] for r in out if r["doc_id"] == 0] == [2]


def test_ngram_jaccard_matches_python_oracle(docs_df):
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           dedup.shingle_pairs_jaccard(docs_df, threshold=0.2).collect()}
    want = {}
    for (a, ta), (b, tb) in itertools.combinations(DOCS, 2):
        sa, sb = _py_shingles(ta), _py_shingles(tb)
        j = len(sa & sb) / len(sa | sb)
        if j >= 0.2:
            want[(a, b)] = round(j, 6)
    assert got == want
    assert (0, 2) in got and got[(0, 2)] == 1.0


def test_minhash_lsh_finds_near_dups(docs_df):
    pairs = {(r["id_a"], r["id_b"]) for r in
             dedup.minhash_lsh_pairs(docs_df, n_hashes=16, bands=8).collect()}
    assert (0, 2) in pairs  # exact dup always collides
    # verified variant: jaccard attached and thresholded
    ver = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           dedup.minhash_lsh_pairs(docs_df, n_hashes=16, bands=8,
                                   verify_threshold=0.5).collect()}
    assert ver[(0, 2)] == 1.0
    assert all(j >= 0.5 for j in ver.values())


def test_minhash_signature_is_md5_based(docs_df, spark):
    """Signature must equal the portable md5-based definition (the same
    expression DuckDB evaluates in the driver oracle)."""
    sig = dedup.minhash_signatures(docs_df, n_hashes=2).orderBy("id").collect()
    for row in sig:
        text = dict(DOCS)[row["id"]]
        for hi in (0, 1):
            want = min(int(hashlib.md5(f"s{hi}:{s}".encode()).hexdigest()[:15], 16)
                       for s in _py_shingles(text))
            assert row[f"mh{hi}"] == want


def test_simhash_near_pairs(docs_df):
    sig = {r["id"]: r["simhash"] for r in
           dedup.simhash_signatures(docs_df).collect()}
    assert sig[0] == sig[2]  # identical text → identical simhash
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
             dedup.simhash_near_pairs(docs_df, max_hamming=16).collect()}
    assert pairs[(0, 2)] == 0
    # hamming verified exactly
    for (a, b), h in pairs.items():
        assert bin(sig[a] ^ sig[b]).count("1") == h


N_IDS = 13


def _py_bucket_pairs(rows, n_keys, pay, max_size):
    buckets = defaultdict(list)
    for r in rows:
        buckets[r[1:1 + n_keys]].append(r[0])
    pairs = set()
    for ids in buckets.values():
        if max_size is None or len(ids) <= max_size:
            pairs |= {(a, b) for a in ids for b in ids if a < b}
    return sorted((a, b, pay[a], pay[b]) if pay else (a, b)
                  for a, b in pairs)


@given(rows=st.lists(st.tuples(st.integers(0, N_IDS - 1), st.integers(0, 3),
                               st.integers(0, 2)), max_size=30),
       n_keys=st.sampled_from([1, 2]),
       pay=st.none() | st.lists(st.integers(-50, 50), min_size=N_IDS,
                                max_size=N_IDS),
       max_size=st.none() | st.integers(2, 6))
# singleton buckets only; one hot bucket, kept and over max_size; a
# pair sharing three buckets
@example(rows=[(0, 0, 0), (1, 1, 0), (2, 2, 0)], n_keys=1, pay=None,
         max_size=None)
@example(rows=[(i, 0, 0) for i in range(N_IDS)] + [(3, 1, 0), (5, 1, 0)],
         n_keys=2, pay=list(range(100, 100 + N_IDS)), max_size=None)
@example(rows=[(i, 0, 0) for i in range(N_IDS)] + [(3, 1, 0), (5, 1, 0)],
         n_keys=1, pay=None, max_size=4)
@example(rows=[(4, k, k % 2) for k in range(3)] + [(9, k, k % 2) for k in range(3)],
         n_keys=2, pay=list(range(N_IDS, 0, -1)), max_size=None)
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_bucket_pairs_matches_brute_force(spark, rows, n_keys, pay, max_size):
    """``_bucket_pairs`` == Python all-pairs within each bucket: every
    pair once however many buckets it shares, id_a < id_b, buckets over
    ``max_size`` rows dropped, and each side's payload its own."""
    df = spark.createDataFrame(
        [(i, k1, k2, pay[i] if pay else 0) for i, k1, k2 in rows],
        "id long, k1 int, k2 int, p long")
    keys = ["k1", "k2"][:n_keys]
    got = dedup._bucket_pairs(df, keys, payload="p" if pay else None,
                              max_size=max_size).collect()
    assert all(r["id_a"] < r["id_b"] for r in got)
    assert sorted(tuple(r) for r in got) == _py_bucket_pairs(
        rows, n_keys, pay, max_size)


def _final_plan_nodes(df):
    """Every node of ``df``'s executed plan — the final adaptive plan,
    query-stage subplans included."""
    todo, nodes = [df._jdf.queryExecution().executedPlan()], []
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif kind.endswith("QueryStageExec"):
            todo.append(node.plan())
        else:
            nodes.append(node)
            kids = node.children()
            todo.extend(kids.apply(i) for i in range(kids.size()))
    return nodes


def test_candidate_lineage_runs_once_on_cached_input(spark):
    """Candidate generation runs its input lineage once. Over a cached
    input AQE reuses no exchange, so a self-join on the bucket columns
    would run the signature lineage once per side."""
    docs = spark.createDataFrame(DOCS, "doc_id long, text string").cache()
    emb = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, float(i % 2)]) for i in range(12)],
        "vec_id long, embedding array<float>").cache()
    ops = {
        "simhash": (dedup.simhash_near_pairs(docs, max_hamming=16),
                    {"chunk_no", "chunk"}),
        "minhash": (dedup.minhash_lsh_pairs(docs, n_hashes=16, bands=8,
                                            verify_threshold=0.5),
                    {"band_no", "sig"}),
        "jaccard": (dedup.shingle_pairs_jaccard(docs, threshold=0.2),
                    {"shingle"}),
        "ann": (similarity.ann_lsh_pairs(emb, dim=3, threshold=0.5),
                {"band_no", "sig"}),
    }
    try:
        for name, (df, bucket_cols) in ops.items():
            df.collect()
            nodes = _final_plan_nodes(df)
            names = [n.nodeName() for n in nodes]
            assert "InMemoryTableScan" in names, name
            if name == "simhash":
                assert sum(bool(re.search("MapIn(Arrow|Pandas)", n))
                           for n in names) == 1
            if name == "minhash":
                assert sum(str(n.expressions().toString())
                           .count("concat(s0:, ") for n in nodes) == 1
            for node, node_name in zip(nodes, names):
                if "Join" in node_name and "NestedLoop" not in node_name:
                    keys = set(re.findall(r"(\w+)#", str(
                        node.leftKeys().toString())))
                    assert not keys & bucket_cols, (name, node_name, keys)
    finally:
        docs.unpersist()
        emb.unpersist()


def test_cosine_topk_matches_numpy(spark):
    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(50, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(50)],
        "vec_id long, embedding array<float>")
    q = [float(x) for x in vecs[7]]
    got = [(r["id"], r["cos"]) for r in similarity.cosine_topk(df, q, k=5).collect()]
    sims = vecs @ np.array(q) / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
    order = sorted(range(50), key=lambda i: (-round(sims[i], 6), i))[:5]
    assert [i for i, _ in got] == order
    assert got[0][0] == 7 and abs(got[0][1] - 1.0) < 1e-5
    for (i, c) in got:
        assert abs(c - round(float(sims[i]), 6)) < 2e-6


def test_ann_and_ivf_paths(spark):
    rng = np.random.default_rng(5)
    base = rng.normal(size=(40, 8)).astype(np.float32)
    # make 3 exact-duplicate pairs
    base[10] = base[0]
    base[21] = base[2]
    df = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(40)],
        "vec_id long, embedding array<float>")
    pairs = {(r["id_a"], r["id_b"]): r["cos"] for r in
             similarity.ann_lsh_pairs(df, dim=8, threshold=0.99).collect()}
    assert (0, 10) in pairs and (2, 21) in pairs
    # ivf probe finds the query itself
    got = similarity.ivf_topk(df, [float(x) for x in base[4]], k=3).collect()
    assert got[0]["id"] == 4


def test_textstats(spark):
    df = spark.createDataFrame(
        [(0, "the quick fox is in the den"),
         (1, "el perro y el gato en la casa"),
         (2, "안녕하세요 한국어 문장 입니다"),
         (3, "!!! ??? ...")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           textstats.with_lang_id(
               textstats.with_quality_score(
                   textstats.with_token_counts(df))).collect()}
    assert out[0]["lang_pred"] == "en"
    assert out[1]["lang_pred"] == "es"
    assert out[2]["lang_pred"] == "ko"
    assert out[0]["n_tokens_ws"] == 7
    assert out[3]["quality_score"] < out[0]["quality_score"]


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(0, "Hello   World  foo bar baz"), (1, "hello world foo bar baz"),
         (2, "entirely different content here now")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in textstats.with_fingerprint(df).collect()}
    assert rows[0]["fp_norm"] == rows[1]["fp_norm"]     # spacing/case-robust
    assert rows[0]["fp_norm"] != rows[2]["fp_norm"]
    assert rows[0]["fp_shingle"] == rows[1]["fp_shingle"]


def test_multimodal_plumbing(spark):
    media = multimodal.make_fake_media(spark, n=30)
    feats = multimodal.extract_features(media, decoder="fake").collect()
    assert len(feats) == 30
    assert all(len(r["feature"]) == multimodal.FEATURE_DIM for r in feats)
    # deterministic: same payload → same feature
    f0 = multimodal.extract_features(media, decoder="fake") \
        .filter(F.col("media_id") == 0).collect()[0]["feature"]
    assert feats[[r["media_id"] for r in feats].index(0)]["feature"] == f0
    # real decoder is an explicit stub (no media libs in this sandbox)
    with pytest.raises(Exception):
        multimodal.extract_features(media, decoder="real").collect()
    # auto probes the executor env: real decode where libs exist,
    # deterministic stub otherwise — works in BOTH worlds
    auto = multimodal.extract_features(media, decoder="auto").collect()
    assert len(auto) == 30
    assert all(len(r["feature"]) == multimodal.FEATURE_DIM for r in auto)
    try:
        import PIL  # noqa: F401
        has_pil = True
    except ImportError:
        has_pil = False
    if not has_pil:  # stub fallback must equal the fake decoder exactly
        fake = {r["media_id"]: r["feature"] for r in feats}
        assert all(fake[r["media_id"]] == r["feature"] for r in auto)
    plan = multimodal.frame_sample_plan(media, every_ms=500)
    assert plan.count() > 0
    assert plan.columns == ["media_id", "frame_ts_ms"]


def test_audio_decode_routing_with_fake_soundfile(monkeypatch):
    """decoder='auto' must route audio through the real soundfile path
    when the executor probe finds the library (r3 verdict: audio fell
    silently to the stub even with soundfile present). A fake
    `soundfile` module exercises probe + routing without the library."""
    import sys
    import types

    import numpy as np

    samples = np.linspace(-1.0, 1.0, 640, dtype=np.float32).reshape(-1, 1)
    fake = types.ModuleType("soundfile")

    def fake_read(fileobj, dtype="float32", always_2d=True):
        assert fileobj.read(4) is not None  # receives the blob bytes
        return samples, 16000

    fake.read = fake_read
    monkeypatch.setitem(sys.modules, "soundfile", fake)

    caps = multimodal._probe_decoders()
    assert caps["audio"] is True

    got = multimodal._decode_one("audio", b"riff-ish-bytes", caps, "auto")
    mono = np.abs(samples).mean(axis=1)
    want = np.array([s.mean() for s in
                     np.array_split(mono, multimodal.FEATURE_DIM)],
                    dtype=np.float32)
    assert got.shape == (multimodal.FEATURE_DIM,)
    np.testing.assert_allclose(got, want, rtol=1e-6)
    # and it is NOT the sha256 stub
    stub = multimodal._decode_one("audio", b"riff-ish-bytes", {}, "auto")
    assert not np.allclose(got, stub)
    # video still stubs under auto (no ffmpeg in this container),
    # refuses under real
    assert caps["video"] is False
    import pytest as _pytest
    with _pytest.raises(NotImplementedError):
        multimodal._decode_one("video", b"x", caps, "real")


def test_video_decode_routing_with_fake_ffmpeg(monkeypatch, tmp_path):
    """decoder='auto' must route video through the ffmpeg-CLI path when
    the executor probe finds the binary — same probe+routing contract
    the audio test pins. A fake `ffmpeg` executable on PATH emits a
    known rawvideo byte stream (one gray byte per frame), exercising
    probe, subprocess plumbing, and the time-slice feature math without
    the real binary."""
    import os
    import stat

    import numpy as np

    fake = tmp_path / "ffmpeg"
    # 96 "frames": bytes 0..95 on stdout, regardless of args — the
    # real invocation is `ffmpeg -v error -i <file> -vf scale=1:1
    # -pix_fmt gray -f rawvideo -`
    fake.write_text(
        "#!/bin/sh\n"
        "python3 -c 'import sys; sys.stdout.buffer.write(bytes(range(96)))'\n")
    fake.chmod(fake.stat().st_mode | stat.S_IXUSR | stat.S_IXGRP)
    monkeypatch.setenv("PATH", f"{tmp_path}{os.pathsep}{os.environ['PATH']}")

    caps = multimodal._probe_decoders()
    assert caps["video"] is True

    got = multimodal._decode_one("video", b"moov-ish-bytes", caps, "auto")
    means = np.arange(96, dtype=np.float32) / 255.0
    want = np.array([s.mean() for s in
                     np.array_split(means, multimodal.FEATURE_DIM)],
                    dtype=np.float32)
    assert got.shape == (multimodal.FEATURE_DIM,)
    np.testing.assert_allclose(got, want, rtol=1e-6)
    # and it is NOT the sha256 stub
    stub = multimodal._decode_one("video", b"moov-ish-bytes", {}, "auto")
    assert not np.allclose(got, stub)
    # decoder='real' now succeeds for video too (probe found ffmpeg)
    real = multimodal._decode_one("video", b"moov-ish-bytes", caps, "real")
    np.testing.assert_allclose(real, want, rtol=1e-6)
