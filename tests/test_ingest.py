"""Incremental ingest: batch append (B6), tombstone delete (B5),
compaction — pinned to the reference's WriteBatch/delete semantics
(test_konlsearch.py:273-305, 345-368)."""

import pandas as pd
import pytest

from konlspark import build, corpus, ingest
from konlspark.fixtures.titles import TITLES
from konlspark.oracle import OracleIndex
from konlspark.query import SearchEngine


@pytest.fixture()
def fresh_index(spark, tmp_path):
    root = str(tmp_path / "idx")
    tdf = corpus.spark_transcripts(spark, corpus.make_title_transcripts())
    build.build_index(spark, tdf, root)
    return root


def _batch_df(spark, texts, conv="conv-zzz"):
    import datetime
    pdf = pd.DataFrame({
        "conv_id": [conv] * len(texts),
        "turn_idx": pd.array(range(len(texts)), dtype="int32"),
        "role": ["user"] * len(texts),
        "text": texts,
        "tool": [""] * len(texts),
        "ts": [datetime.datetime(2026, 2, 1, tzinfo=datetime.timezone.utc)
               + datetime.timedelta(seconds=i) for i in range(len(texts))],
    })
    return corpus.spark_transcripts(spark, pdf)


def test_append_batch_ids_and_search(spark, fresh_index):
    # reference test_index_writebatch2: 3 new docs → len 132+3, ids advance
    root = fresh_index
    res = ingest.append_batch(spark, root, _batch_df(
        spark, ["기동전사 건담", "기동전사 건담 SEED",
                "기동전사 건담 SEED DESTINY"]))
    assert res == {"indexed": 3, "conflicts": 0, "first_doc_id": 133}
    eng = SearchEngine(spark, root)
    assert eng.n_docs == 135
    got = [r["doc_id"] for r in eng.search(["건담"], "or", log=False).collect()]
    assert got == [133, 134, 135]
    # AND across old+new corpus still works
    got = [r["doc_id"] for r in
           eng.search(["건담", "SEED"], "and", log=False).collect()]
    assert got == [134, 135]


def test_append_dedup_in_batch_and_vs_existing(spark, fresh_index):
    root = fresh_index
    res = ingest.append_batch(spark, root, _batch_df(
        spark, [TITLES[9], "완전히 새로운 문서", "완전히 새로운 문서"]))
    # TITLES[9] collides with live doc 10; duplicate text collides in-batch
    assert res["indexed"] == 1 and res["conflicts"] == 2
    eng = SearchEngine(spark, root)
    assert eng.n_docs == 133
    conflicts = spark.read.parquet(f"{root}/conflicts").collect()
    by_turn = {(r["conv_id"], r["turn_idx"]): r["conflict_doc_id"]
               for r in conflicts}
    assert by_turn[("conv-zzz", 0)] == 10     # winner is the live doc
    assert by_turn[("conv-zzz", 2)] == 133    # in-batch winner


def test_delete_then_reindex_advances_id(spark, fresh_index):
    # reference test_index_hash: delete 100 → re-index gets id 133
    root = fresh_index
    eng = SearchEngine(spark, root)
    doc100 = eng.get(100).collect()[0]["text"]
    assert ingest.delete_docs(spark, root, [100]) == {"deleted": 1}
    eng.refresh()
    assert eng.n_docs == 131
    assert eng.get(100).collect() == []
    res = ingest.append_batch(spark, root, _batch_df(spark, [doc100]))
    assert res == {"indexed": 1, "conflicts": 0, "first_doc_id": 133}


def test_delete_removes_from_search_and_compact_restores_parity(
        spark, fresh_index):
    root = fresh_index
    # reference test_inverted_index_delete: 다이아몬드 → {38}
    eng = SearchEngine(spark, root)
    assert [r["doc_id"] for r in
            eng.search(["다이아몬드"], "or", log=False).collect()] == [38]
    ingest.delete_docs(spark, root, [38, 10])
    eng.refresh()
    assert eng.search(["다이아몬드"], "or", log=False).collect() == []
    assert not eng.wand_safe  # stale block-max metadata → WAND off
    ora = OracleIndex()
    ora.index_all(TITLES)
    ora.delete(38)
    ora.delete(10)
    # dead term gone from EVERY token_dict surface immediately after the
    # delete (df_delta fold — reference drops a trie token the moment
    # its last posting dies, inverted_index.py:89-95): suggestions,
    # membership, and df-driven idf are exact BEFORE compaction
    assert "다이아몬드" not in eng.search_suggestions("다")
    assert "다이아몬드" not in eng

    def assert_bm25_parity():
        for q in (["같은", "비스크"], ["마법", "특별"]):
            got = [(r["doc_id"], r["score"]) for r in
                   eng.bm25_topk(q, k=10, use_wand=False).collect()]
            want = ora.bm25_topk(q, k=10)
            assert [d for d, _ in got] == [d for d, _ in want], q
            for (_, a), (_, b) in zip(got, want):
                assert abs(a - b) < 1e-9

    assert_bm25_parity()  # pre-compaction: idf/avgdl already exact
    ingest.compact(spark, root)
    eng.refresh()
    assert eng.wand_safe
    # still gone after compaction (token_dict rebuilt from live docs)
    assert "다이아몬드" not in eng.search_suggestions("다")
    assert_bm25_parity()


def test_append_is_invisible_without_commit(spark, fresh_index, monkeypatch):
    """Rollback semantics: a crash before the manifest swap leaves the
    snapshot unchanged (WriteBatch rollback, index.py:261-263)."""
    root = fresh_index
    from konlspark.catalog import IndexCatalog
    boom = RuntimeError("crash before commit")

    def exploding_commit(self, manifest):
        raise boom
    monkeypatch.setattr(IndexCatalog, "commit_manifest", exploding_commit)
    with pytest.raises(RuntimeError):
        ingest.append_batch(spark, root, _batch_df(spark, ["새문서 하나"]))
    monkeypatch.undo()
    eng = SearchEngine(spark, root)
    assert eng.n_docs == 132
    assert eng.search(["새문서"], "or", log=False).collect() == []


def test_write_calls_leave_no_persisted_rdds(spark, tmp_path):
    """Every write call unpersists what it persisted: the ranked docs
    and dedup maps (build, append), the victims (delete) and the live
    docs and term_df (compact)."""
    root = str(tmp_path / "idx")

    def n_persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    calls = [
        ("build_index", lambda: build.build_index(
            spark, corpus.spark_transcripts(
                spark, corpus.make_title_transcripts()), root)),
        ("append_batch", lambda: ingest.append_batch(spark, root, _batch_df(
            spark, [TITLES[9], "완전히 새로운 문서", "완전히 새로운 문서"]))),
        ("delete_docs", lambda: ingest.delete_docs(spark, root, [3, 133])),
        ("compact", lambda: ingest.compact(spark, root)),
    ]
    for name, call in calls:
        before = n_persisted()
        call()
        assert n_persisted() == before, name
