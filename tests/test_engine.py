"""Distributed engine vs oracle (and thus vs the reference goldens).

The north rule's verification shape: rank-identical doc ids AND BM25
scores (abs tol 1e-9) between the Spark engine and the single-node
oracle, which tests/test_oracle_golden.py anchors to the reference's own
test outputs."""

import pytest

from konlspark.query import ComplexRequest, SearchEngine, SearchRequest


def ids(df):
    return [r["doc_id"] for r in df.collect()]


@pytest.fixture(scope="module")
def eng(spark, title_index):
    root, _ = title_index
    return SearchEngine(spark, root)


@pytest.fixture(scope="module")
def zeng(spark, zipf_index):
    root, _ = zipf_index
    return SearchEngine(spark, root)


# -- reference golden parity (title corpus) ---------------------------------

def test_engine_golden_or(eng):
    assert ids(eng.search(["같은", "비스크"], "or", log=False)) == [10, 18, 81]
    assert ids(eng.search(["특별", "마법소녀"], "or", log=False)) == [9, 49, 97]


def test_engine_golden_and(eng):
    assert ids(eng.search(["마법", "특별"], "and", log=False)) == [9]


def test_engine_golden_phrase(eng):
    assert ids(eng.search(["마법", "특별"], "phrase", log=False)) == [9]
    assert ids(eng.search(["특별", "마법"], "phrase", log=False)) == []


def test_engine_golden_complex(eng):
    req = ComplexRequest(
        SearchRequest(["같은", "비스크"], "or"),
        ComplexRequest(
            SearchRequest(["거신병", "경비실"], "or"),
            SearchRequest(["마법", "특별"], "phrase"),
            "or",
        ),
        "or",
    )
    assert ids(eng.search_complex(req)) == [1, 3, 9, 10, 18, 81]


def test_engine_golden_suggestions(eng):
    assert eng.search_suggestions("특") == ["특급", "특별", "특별해야"]


def test_engine_point_range_multi(eng):
    assert eng.get(10).collect()[0]["text"] == "그 비스크 돌은 사랑을 한다"
    assert ids(eng.get_range(10, 20)) == list(range(10, 20))
    assert ids(eng.get_multi([10, 15, 20, 1000])) == [10, 15, 20]


def test_engine_bm25_matches_oracle_on_titles(eng, title_oracle):
    for q in [["마법", "특별"], ["같은", "비스크"], ["특별", "마법소녀"],
              ["건담"], ["사랑"]]:
        got = [(r["doc_id"], r["score"]) for r in
               eng.bm25_topk(q, k=10, use_wand=False).collect()]
        want = title_oracle.bm25_topk(q, k=10)
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, a), (_, b) in zip(got, want):
            assert abs(a - b) < 1e-9, q


# -- invariants (north rule / FIXTURES §1) -----------------------------------

def test_per_turn_text_equality_roundtrip(spark, title_index):
    """Per-turn text equality preserved under stable (conv_id, turn_idx)
    ordering after the round-trip through the engine's docs table."""
    from konlspark.corpus import make_title_transcripts
    root, _ = title_index
    docs = spark.read.parquet(f"{root}/docs")
    got = [(r["conv_id"], r["turn_idx"], r["text"]) for r in
           docs.orderBy("conv_id", "turn_idx").select(
               "conv_id", "turn_idx", "text").collect()]
    src = make_title_transcripts().sort_values(["conv_id", "turn_idx"])
    want = list(zip(src["conv_id"], src["turn_idx"], src["text"]))
    assert got == want


def test_doc_ids_dense_and_order_stable(spark, title_index):
    root, _ = title_index
    docs = spark.read.parquet(f"{root}/docs")
    rows = docs.orderBy("conv_id", "turn_idx").select("doc_id").collect()
    assert [r["doc_id"] for r in rows] == list(range(1, 133))


# -- zipf corpus: dedup, skew, full parity ------------------------------------

def test_zipf_dedup_matches_oracle(spark, zipf_index, zipf_oracle, zipf_corpus):
    root, _ = zipf_index
    docs = spark.read.parquet(f"{root}/docs")
    conflicts = spark.read.parquet(f"{root}/conflicts")
    assert docs.count() == len(zipf_oracle.docs)
    n_conflicts = len(zipf_corpus) - len(zipf_oracle.docs)
    assert conflicts.count() == n_conflicts
    assert n_conflicts > 0  # fixture injects duplicates
    # engine doc texts in id order == oracle insert order
    got = [r["text"] for r in
           docs.orderBy("doc_id").select("text").collect()]
    want = [zipf_oracle.docs[i].text for i in sorted(zipf_oracle.docs)]
    assert got == want


def test_zipf_salting_kicked_in(spark, zipf_index):
    """Head terms must actually split (target_per_split=200 in fixture)."""
    from pyspark.sql import functions as F
    root, _ = zipf_index
    postings = spark.read.parquet(f"{root}/postings")
    max_salt = postings.agg(F.max("salt")).collect()[0][0]
    assert max_salt >= 1
    # every (term, salt) group stays near the target
    grp = (postings.groupBy("term", "salt").agg(F.sum("n").alias("p"))
           .agg(F.max("p")).collect()[0][0])
    assert grp <= 200 + 64  # target + one block of slack


def test_zipf_boolean_parity(zeng, zipf_oracle):
    queries = [
        (["마법", "특별"], "or"), (["마법", "특별"], "and"),
        (["spark", "query"], "and"), (["spark", "query"], "or"),
        (["검색", "색인", "질의"], "or"), (["검색", "색인", "질의"], "and"),
        (["마법", "spark"], "and"), (["없는단어쿼리"], "or"),
        (["마법", "특별"], "phrase"), (["특별", "마법"], "phrase"),
        (["spark", "query"], "phrase"),
    ]
    for tokens, mode in queries:
        got = ids(zeng.search(tokens, mode, log=False))
        want = zipf_oracle.search(tokens, mode, log=False)
        assert got == want, (tokens, mode)


def test_zipf_bm25_parity_and_wand_lossless(zeng, zipf_oracle):
    queries = [["마법", "특별"], ["spark", "query", "index"],
               ["검색", "색인"], ["마법", "spark", "token"],
               ["모래", "바다", "하늘"], ["마법소녀"]]
    for q in queries:
        exact = [(r["doc_id"], r["score"]) for r in
                 zeng.bm25_topk(q, k=10, use_wand=False).collect()]
        wand = [(r["doc_id"], r["score"]) for r in
                zeng.bm25_topk(q, k=10, use_wand=True,
                               wand_min_postings=0).collect()]
        want = zipf_oracle.bm25_topk(q, k=10)
        assert [d for d, _ in exact] == [d for d, _ in want], q
        for (_, a), (_, b) in zip(exact, want):
            assert abs(a - b) < 1e-9, q
        assert [d for d, _ in wand] == [d for d, _ in exact], q
        for (_, a), (_, b) in zip(wand, exact):
            assert abs(a - b) < 1e-12, q


def test_phrase_contiguous_extension(zeng, zipf_corpus):
    """Contiguous phrase (extension): engine result == brute-force
    adjacency over the tokenizer's ordered stream of the deduped corpus."""
    from konlspark import tokenizer as tk
    q = ["마법", "특별"]
    qo = tk.tokenize_with_order(" ".join(q))
    ordered = zipf_corpus.sort_values(["conv_id", "turn_idx"])
    seen, want = set(), []
    doc_id = 0
    for text in ordered["text"]:
        if text in seen:
            continue
        seen.add(text)
        doc_id += 1
        toks = tk.tokenize_with_order(text)
        m = len(qo)
        if any(toks[i:i + m] == qo for i in range(len(toks) - m + 1)):
            want.append(doc_id)
    got = ids(zeng.search_phrase_contiguous(q))
    assert got == want
    # contiguous ⊆ ordered-first-occurrence candidates’ AND set
    assert set(got) <= set(ids(zeng.search(q, "and", log=False)))


def test_read_only_engine(spark, title_index):
    """S1 read-only open mode (reference search.py:16-26): reads work,
    every mutating surface raises."""
    from konlspark.query import ReadOnlyIndexError
    root, _ = title_index
    ro = SearchEngine(spark, root, access="ro")
    assert ids(ro.search(["마법", "특별"], "and", log=False)) == [9]
    with pytest.raises(ReadOnlyIndexError):
        ro.search(["마법"], "or")  # log=True path writes the query log
    with pytest.raises(ReadOnlyIndexError):
        ro.aggregate_frequency()
    with pytest.raises(ValueError):
        SearchEngine(spark, root, access="bogus")


def test_wand_prune_actually_prunes(zeng):
    """The metadata-only pruning pass must DROP blocks for a head
    single-term query (k-th block max bound) and stay lossless —
    guards against a gate regression making the lossless test vacuous."""
    from konlspark.oracle import bm25_idf
    term = "마법"
    meta = zeng._term_meta([term])
    assert meta[term]["df"] >= 64 * 10, "fixture head term too small"
    idf = {term: bm25_idf(zeng.n_docs, meta[term]["df"])}
    blocks = zeng._blocks_for(meta)
    pruned = zeng._wand_prune(blocks, meta, idf, 10)
    n_all, n_kept = blocks.count(), pruned.count()
    assert n_kept < n_all  # pruning fired
    exact = [(r["doc_id"], round(r["score"], 9)) for r in
             zeng.bm25_topk([term], k=10, use_wand=False).collect()]
    wand = [(r["doc_id"], round(r["score"], 9)) for r in
            zeng.bm25_topk([term], k=10, use_wand=True,
                           wand_min_postings=0).collect()]
    assert wand == exact


def test_zipf_bm25_and_mode(zeng, zipf_oracle):
    q = ["마법", "특별"]
    got = [(r["doc_id"], r["score"]) for r in
           zeng.bm25_topk(q, k=10, mode="and").collect()]
    want = zipf_oracle.bm25_topk(q, k=10, mode="and")
    assert [d for d, _ in got] == [d for d, _ in want]


# -- query log + frequency aggregation ----------------------------------------

def test_query_log_and_frequency(spark, tmp_root, title_oracle):
    """Q8/Q9: logged searches aggregate incrementally into per-prefix
    top-k, matching the reference frequency golden."""
    from konlspark import build, corpus
    root = f"{tmp_root}/freq_index"
    tdf = corpus.spark_transcripts(spark, corpus.make_title_transcripts())
    build.build_index(spark, tdf, root)
    eng = SearchEngine(spark, root)
    eng.search(["같은", "비스크"], "or")
    for _ in range(6):
        eng.search(["특별", "마법소녀"], "or")
    eng.search(["마법", "모래"], "or")
    eng.aggregate_frequency()
    assert eng.search_by_frequency("ㅁ") == [("마법소녀", 6), ("마법", 1), ("모래", 1)]
    # incremental: another search then re-aggregate adds only the delta
    eng.search(["마법"], "or")
    eng.aggregate_frequency()
    assert eng.search_by_frequency("ㅁ") == [("마법소녀", 6), ("마법", 2), ("모래", 1)]


def test_batch_search_parity(zeng):
    """search_batch: per-query rows identical to the single-query path
    for every query in a mixed batch (shared terms, unknown terms,
    single-term, duplicate tokens) in both modes."""
    batch = {
        "qa": ["마법", "특별"],
        "qb": ["spark", "query"],
        "qc": ["검색", "색인", "질의"],
        "qd": ["없는단어쿼리"],          # unknown term
        "qe": ["마법", "없는단어쿼리"],   # known + unknown
        "qf": ["마법", "마법", "특별"],   # duplicate token
        "qg": ["spark"],
    }
    for mode in ("or", "and"):
        got = {}
        for r in zeng.search_batch(batch, mode=mode).collect():
            got.setdefault(r["query_id"], []).append(r["doc_id"])
        for qid, tokens in batch.items():
            want = ids(zeng.search(tokens, mode, log=False))
            assert got.get(qid, []) == want, (qid, mode)


def test_batch_bm25_parity(zeng):
    """bm25_topk_batch: per-query (doc_id, score) identical to the
    single-query exact path — same docs, same order, scores to 1e-9."""
    batch = {
        "qa": ["마법", "특별"],
        "qb": ["spark", "query", "index"],
        "qc": ["검색", "색인"],
        "qd": ["마법", "spark", "token"],
        "qe": ["없는단어쿼리"],
        "qf": ["마법소녀"],
    }
    for mode in ("or", "and"):
        for k in (3, 10):
            got = {}
            for r in (zeng.bm25_topk_batch(batch, k=k, mode=mode)
                      .collect()):
                got.setdefault(r["query_id"], []).append(
                    (r["doc_id"], r["score"]))
            for qid, tokens in batch.items():
                want = [(r["doc_id"], r["score"]) for r in
                        zeng.bm25_topk(tokens, k=k, mode=mode,
                                       use_wand=False).collect()]
                gq = got.get(qid, [])
                assert [d for d, _ in gq] == [d for d, _ in want], \
                    (qid, mode, k)
                for (_, a), (_, b) in zip(gq, want):
                    assert abs(a - b) < 1e-9, (qid, mode, k)


def test_batch_bm25_empty_and_k0(zeng):
    assert zeng.bm25_topk_batch({}, k=10).count() == 0
    assert zeng.bm25_topk_batch({"q": ["마법"]}, k=0).count() == 0
    assert zeng.search_batch({"q": ["없는단어쿼리"]}, "and").count() == 0


def test_lean_decode_matches_full_decode(zeng):
    """r9: boolean search decodes ids only (`_decode_ids`). Pin its
    (term, doc_id) multiset against the full `_decode` so the two
    paths can never drift — the AND count relies on one row per
    (term, doc_id) in BOTH."""
    meta = zeng._term_meta([t for t in zeng.token_dict
                            .select("term").orderBy("term").limit(3)
                            .toPandas()["term"]])
    blocks = zeng._blocks_for(meta)
    lean = sorted(r["doc_id"] for r in zeng._decode_ids(blocks).collect())
    full = sorted(r["doc_id"] for r in zeng._decode(blocks)
                  .select("doc_id").collect())
    assert len(lean) > 0
    assert lean == full
